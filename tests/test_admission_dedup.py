"""In-round dedup winner: two candidates for one URL in one round admit
exactly one row, chosen by min (depth, parent_url, link_pos) with a NULL
parent first, whatever the partitioning."""

from webcrawler_spark.operators.admission import dedup_in_round


def _cand(spark):
    rows = [
        ("http://a/x", "k1", "a", "/x", 2, "http://p1", 5),
        ("http://a/x", "k1", "a", "/x", 1, "http://p9", 9),  # depth wins
        ("http://a/x", "k1", "a", "/x", 1, "http://p2", 3),  # parent tiebreak
        ("http://a/y", "k2", "a", "/y", 0, None, 7),         # NULL wins
        ("http://a/y", "k2", "a", "/y", 0, "http://p", 1),
        ("http://a/z", "k3", "a", "/z", 3, "http://q", 2),
        ("http://a/z", "k3", "a", "/z", 3, "http://q", 2),   # identical dup
    ]
    return spark.createDataFrame(
        rows,
        "url string, url_sha1 string, host string, path string, "
        "depth long, parent_url string, link_pos long",
    )


def test_in_round_winner_is_min_depth_parent_link_pos(spark):
    want = {
        "k1": ("http://a/x", 1, "http://p2", 3),
        "k2": ("http://a/y", 0, None, 7),
        "k3": ("http://a/z", 3, "http://q", 2),
    }
    for parts in (1, 8):
        rows = dedup_in_round(_cand(spark).repartition(parts)).collect()
        got = {r["url_sha1"]: (r["url"], r["depth"], r["parent_url"], r["link_pos"])
               for r in rows}
        assert len(rows) == 3
        assert got == want
