"""Unit tests: ring-intersection kernel."""

import numpy as np


def _rect(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], float)


def test_rings_intersect_cases():
    from bano_spark.geo.geometry import rings_intersect

    a = _rect(0, 0, 10, 10)
    assert rings_intersect(a, _rect(5, 5, 15, 15))        # overlap
    assert rings_intersect(a, _rect(2, 2, 3, 3))          # b inside a
    assert rings_intersect(_rect(2, 2, 3, 3), a)          # a inside b
    assert not rings_intersect(a, _rect(20, 20, 30, 30))  # disjoint
    # crossing without any vertex containment (plus shape)
    tall = _rect(4, -5, 6, 15)
    wide = _rect(-5, 4, 15, 6)
    assert rings_intersect(tall, wide)
    # triangle vs rectangle edge crossing
    tri = np.array([[8, 8], [20, 9], [9, 20]], float)
    assert rings_intersect(a, tri)
    assert not rings_intersect(_rect(0, 0, 1, 1), tri)


def test_rings_intersect_random_rects_match_interval_logic():
    from bano_spark.geo.geometry import rings_intersect

    rng = np.random.default_rng(5)
    rects = []
    for _ in range(60):
        x0, y0 = rng.uniform(0, 100, 2)
        rects.append((x0, y0, x0 + rng.uniform(1, 30),
                      y0 + rng.uniform(1, 30)))
    for i, ra in enumerate(rects):
        for rb in rects[i + 1:]:
            want = (ra[0] < rb[2] and rb[0] < ra[2]
                    and ra[1] < rb[3] and rb[1] < ra[3])
            got = rings_intersect(_rect(*ra), _rect(*rb))
            assert got == want, (ra, rb)
