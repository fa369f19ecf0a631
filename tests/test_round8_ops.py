"""Hand-computed pins for the round-8 operators — the oracle checks
hash-parity at fixture scale; these pin the SEMANTICS on tiny inputs
(weight arithmetic, window distances, tie-breaks, keep-first rules)."""

from __future__ import annotations

import datetime as dt


def _ev(spark, rows):
    return spark.createDataFrame(
        rows,
        "visitorid long, event string, event_time timestamp, "
        "itemid long, event_id long",
    )


def test_position_attribution_u_shape(spark):
    """m=4 touches: first 400000, last 400000, two middles 100000 each
    (200000 DIV 2); m=1 -> 1000000; m=2 -> 500000/500000."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        position_attribution,
    )

    b = dt.datetime(2024, 1, 1)
    rows = []
    # visitor 1: views items 10,20,30,40 then purchases
    for i, item in enumerate([10, 20, 30, 40]):
        rows.append((1, "view", b + dt.timedelta(minutes=i), item, i + 1))
    rows.append((1, "purchase", b + dt.timedelta(minutes=10), 99, 5))
    # visitor 2: one view then purchase
    rows.append((2, "view", b, 50, 6))
    rows.append((2, "purchase", b + dt.timedelta(minutes=1), 99, 7))
    # visitor 3: two views then purchase
    rows.append((3, "view", b, 60, 8))
    rows.append((3, "view", b + dt.timedelta(minutes=1), 61, 9))
    rows.append((3, "purchase", b + dt.timedelta(minutes=2), 99, 10))
    out = {
        r.itemid: r.credit_ppm
        for r in position_attribution(_ev(spark, rows)).collect()
    }
    assert out[10] == 400_000 and out[40] == 400_000
    assert out[20] == 100_000 and out[30] == 100_000
    assert out[50] == 1_000_000
    assert out[60] == 500_000 and out[61] == 500_000


def test_position_attribution_horizon_and_cap(spark):
    """Touches outside the horizon are excluded; only the most recent
    window_touches participate and position ranks are within the KEPT set."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        position_attribution,
    )

    b = dt.datetime(2024, 1, 1)
    rows = [
        (1, "view", b - dt.timedelta(days=2), 1, 1),  # outside 86400s horizon
        (1, "view", b, 2, 2),
        (1, "view", b + dt.timedelta(minutes=1), 3, 3),
        (1, "purchase", b + dt.timedelta(minutes=2), 99, 4),
    ]
    out = {
        r.itemid: r.credit_ppm
        for r in position_attribution(_ev(spark, rows)).collect()
    }
    assert 1 not in out
    assert out[2] == 500_000 and out[3] == 500_000
    # cap: 5 touches, window_touches=3 -> only the 3 most recent share,
    # the OLDEST KEPT becomes "first"
    rows2 = [
        (1, "view", b + dt.timedelta(minutes=i), 10 + i, i + 1) for i in range(5)
    ] + [(1, "purchase", b + dt.timedelta(minutes=9), 99, 9)]
    out2 = {
        r.itemid: r.credit_ppm
        for r in position_attribution(_ev(spark, rows2), window_touches=3).collect()
    }
    assert 10 not in out2 and 11 not in out2
    assert out2[12] == 400_000 and out2[14] == 400_000  # first/last kept
    assert out2[13] == 200_000  # single middle gets the full 20%


def test_cart_abandonment_semantics(spark):
    """Purchasers without a view are excluded from the denominator."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        cart_abandonment_by_item,
    )

    b = dt.datetime(2024, 1, 1)
    rows = [
        (1, "view", b, 7, 1),
        (1, "purchase", b, 7, 2),
        (2, "view", b, 7, 3),           # abandons
        (3, "purchase", b, 7, 4),       # buys blind — excluded
        (4, "view", b, 8, 5),           # abandons item 8
    ]
    out = {r.itemid: r for r in cart_abandonment_by_item(_ev(spark, rows)).collect()}
    assert (out[7].n_viewers, out[7].n_buyers, out[7].n_abandoned) == (2, 1, 1)
    assert out[7].abandonment_rate == 0.5
    assert (out[8].n_viewers, out[8].n_abandoned) == (1, 1)


def test_repeat_purchase_rate(spark):
    from clickestream_project_bigdata_spark.operators.analytics import (
        repeat_purchase_rate,
    )

    b = dt.datetime(2024, 1, 1)
    rows = [
        (1, "purchase", b, 5, 1),
        (1, "purchase", b + dt.timedelta(days=1), 5, 2),
        (2, "purchase", b, 5, 3),
        (1, "view", b, 5, 4),  # not a purchase
    ]
    [r] = repeat_purchase_rate(_ev(spark, rows)).collect()
    assert (r.n_buyers, r.n_repeat_buyers, r.n_purchases) == (2, 1, 3)
    assert r.repeat_rate == 0.5
