"""SmallFloat norm quantization (FIXTURES.md §6)."""

from hypothesis import given, strategies as st

from sparksearch.norms import byte4_to_int, int_to_byte4, quantize_length


def test_small_values_exact():
    for i in range(8):
        assert int_to_byte4(i) == i
        assert quantize_length(i) == i


def test_known_points():
    # 4-bit mantissa floor: quantize keeps top 4 bits
    assert quantize_length(8) == 8
    assert quantize_length(15) == 15
    assert quantize_length(16) == 16
    assert quantize_length(17) == 16
    assert quantize_length(31) == 30
    assert quantize_length(100) == 96
    assert quantize_length(255) == 240
    assert quantize_length(1000) == 960


@given(st.integers(min_value=0, max_value=2**30))
def test_monotone_and_idempotent(i):
    q = quantize_length(i)
    assert q <= i
    assert quantize_length(q) == q            # idempotent on decoded values
    assert quantize_length(i + 1) >= q        # monotone


def test_byte_roundtrip_all_256():
    for b in range(256):
        assert int_to_byte4(byte4_to_int(b)) == b


def test_quantized_dl_sql_matches_python_duckdb():
    import duckdb
    from sparksearch.norms import quantized_dl_sql
    expr = quantized_dl_sql("i")
    got = duckdb.sql(
        f"SELECT i, {expr} AS q FROM range(0, 5000) t(i)").fetchall()
    for i, q in got:
        assert q == quantize_length(i), (i, q, quantize_length(i))
