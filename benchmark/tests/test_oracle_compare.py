"""The order-insensitive result comparison used by the SQL oracle check."""

from benchmark.sql_analytics import same_result


def test_row_and_column_order_do_not_matter():
    s = [("b", 2, 1.5), ("a", 1, 0.25)]
    o = [(0.25, 1, "a"), (1.5, 2, "b")]
    assert same_result(s, ["k", "n", "x"], o, ["x", "n", "k"])


def test_one_step_in_the_last_printed_decimal_is_a_summation_order_flip():
    assert same_result([("N8", 1276103.07)], ["k", "x"], [("N8", 1276103.08)], ["k", "x"])
    assert same_result([("N8", 2328650.58)], ["k", "x"], [("N8", 2328650.57)], ["k", "x"])
    assert not same_result([("N8", 1276103.07)], ["k", "x"], [("N8", 1276103.09)], ["k", "x"])
    assert not same_result([("N8", 0.5)], ["k", "x"], [("N8", 0.7)], ["k", "x"])


def test_shape_and_non_float_cells_must_match_exactly():
    assert not same_result([("a", 1)], ["k", "n"], [("a", 2)], ["k", "n"])
    assert not same_result([("a", 1)], ["k", "n"], [("a", 1), ("b", 2)], ["k", "n"])
    assert not same_result([("a", 1)], ["k", "n"], [("a", 1)], ["k", "m"])
    assert not same_result([("a", 1.0)], ["k", "x"], [("a", None)], ["k", "x"])
