"""Round-6 session-3 operators: prefix-filtered exact Jaccard join,
hop-bounded SSSP, sweep-line interval coverage, OLS trend, MAD, mode,
dyadic EWMA."""

from __future__ import annotations

import heapq
import itertools
import math

from pyspark.sql import functions as F


# --------------------------------------------------------- jaccard prefix
def _brute_jaccard(docs, k, t):
    """Python brute force over word-k-gram sets."""
    import re

    sets = {}
    for did, text in docs:
        ws = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        if len(ws) >= k:
            sh = {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}
        else:
            sh = set()
        sets[did] = sh
    out = []
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        if uni and inter / uni >= t:
            out.append((a, b, inter, uni))
    return sorted(out)


def test_jaccard_prefix_completeness(spark):
    """Prefix filtering must find EVERY qualifying pair — including
    identical docs, near-dups, and docs sharing only stop-words (which
    must NOT pair)."""
    from pda_spark.functions import dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "the quick brown fox jumps over the lazy dog today"),  # == 1
        (4, "completely different content about spark catalyst engines"),
        (5, "the and of to in a is it for on"),  # stop-words only
        (6, "spark catalyst engines optimize completely different content about"),
        (7, "x"),  # fewer words than the shingle width -> empty set
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r.id_a, r.id_b, r.inter, r.uni)
        for r in dedup.jaccard_join_prefix(
            df, threshold_num=1, threshold_den=2, shingle_words=3
        ).collect()
    )
    want = _brute_jaccard(rows, 3, 0.5)
    assert got == want
    assert (1, 3, 8, 8) in got  # identical pair found with jaccard 1


def test_jaccard_prefix_word_sets(spark):
    """shingle_words=1 joins on plain word sets."""
    from pda_spark.functions import dedup

    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon"), (3, "zeta eta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r.id_a, r.id_b, r.inter, r.uni)
        for r in dedup.jaccard_join_prefix(
            df, threshold_num=1, threshold_den=2, shingle_words=1
        ).collect()
    )
    assert got == [(1, 2, 3, 5)]


# ------------------------------------------------------------------ sssp
def _dijkstra_bounded(nodes, edges, sources, rounds):
    """Hop-bounded shortest path oracle: dist[v] = min cost over paths
    of <= rounds edges."""
    INF = math.inf
    dist = {v: (0 if v in sources else INF) for v in nodes}
    for _ in range(rounds):
        nxt = dict(dist)
        for u, v, w in edges:
            if dist[u] + w < nxt[v]:
                nxt[v] = dist[u] + w
        dist = nxt
    return {v: d for v, d in dist.items() if d < INF}


def test_sssp_bounded_vs_oracle(spark):
    from pda_spark.functions import graph

    edges = [
        (1, 2, 5), (2, 3, 1), (3, 4, 1), (1, 4, 10),
        (4, 5, 2), (10, 11, 1), (5, 1, 1),
    ]
    nodes = {n for e in edges for n in e[:2]}
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    s = spark.createDataFrame([(1,), (10,)], ["id"])
    for rounds in (0, 1, 2, 4):
        got = {r.id: r.dist for r in graph.sssp_bounded(e, s, rounds=rounds).collect()}
        want = _dijkstra_bounded(nodes | {1, 10}, edges, {1, 10}, rounds)
        assert got == want, f"rounds={rounds}"
    # hop-bounded: 1->2->3->4 costs 7 but needs 3 hops; 2 hops sees only 1->4 = 10
    two = {r.id: r.dist for r in graph.sssp_bounded(e, s, rounds=2).collect()}
    assert two[4] == 10
    four = {r.id: r.dist for r in graph.sssp_bounded(e, s, rounds=4).collect()}
    assert four[4] == 7


# ------------------------------------------------------- interval sweep
def test_interval_coverage_cases(spark):
    from pda_spark.operators import temporal

    rows = [
        # key 1: [0,10) + [5,15) overlap -> union 15, peak 2 first at 5
        (1, 0, 10), (1, 5, 15),
        # key 2: adjacent half-open [0,5)+[5,10): union 10, peak 1 at 0
        (2, 0, 5), (2, 5, 10),
        # key 3: nested + degenerate + disjoint
        (3, 0, 100), (3, 10, 20), (3, 50, 50), (3, 200, 210),
    ]
    df = spark.createDataFrame(rows, ["k", "s", "e"])
    got = {
        r.key: (r.covered_len, r.max_concurrency, r.peak_at)
        for r in temporal.interval_coverage(df, "k", "s", "e").collect()
    }
    assert got[1] == (15, 2, 5)
    assert got[2] == (10, 1, 0)
    assert got[3] == (110, 2, 10)


# ------------------------------------------------------------ ols trend
def test_ols_trend_exact_line(spark):
    from pda_spark.operators import temporal

    # y = 3x + 7 exactly -> slope 3, intercept 7; plus a zero-variance key
    rows = [(1, x, 3 * x + 7) for x in range(10)] + [(2, 4, 9), (2, 4, 11)]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    got = {r.key: r for r in temporal.ols_trend(df, "k", "x", "y").collect()}
    assert got[1].slope == 3.0 and got[1].intercept == 7.0
    assert got[2].slope is None and got[2].intercept is None
    assert got[2].slope_den == 0


# ------------------------------------------------------------- mad/mode
def test_mad_and_mode(spark):
    from pda_spark.functions import profiling

    rows = [("a", 1), ("a", 2), ("a", 3), ("a", 100), ("b", 5), ("b", 5), ("b", 7)]
    df = spark.createDataFrame(rows, ["g", "v"])
    m = {r.g: (r.n, r.med, r.mad) for r in profiling.mad(df, "v", ["g"]).collect()}
    # a: med = 2.5, |dev| = [1.5, 0.5, 0.5, 97.5], mad = 1.0
    assert m["a"] == (4, 2.5, 1.0)
    assert m["b"] == (3, 5.0, 0.0)

    mo = {
        r.g: (r.mode, r.mode_count)
        for r in profiling.mode_per_group(df, "v", ["g"]).collect()
    }
    assert mo["b"] == (5, 2)
    assert mo["a"] == (1, 1)  # 4-way tie -> minimum value


def test_mad_global_no_groups(spark):
    from pda_spark.functions import profiling

    df = spark.createDataFrame([(i,) for i in range(1, 6)], ["v"])
    row = profiling.mad(df, "v").collect()[0]
    assert (row.n, row.med, row.mad) == (5, 3.0, 1.0)


# ----------------------------------------------------------------- ewma
def test_ewma_dyadic_exact(spark):
    from pda_spark.operators import timeseries

    rows = [(1, t, (t * 37) % 1000) for t in range(40)] + [(2, 0, 8)]
    df = spark.createDataFrame(rows, ["k", "t", "x"])
    got = {(r.key, r.t): r.ewma for r in timeseries.ewma_dyadic(df, "k", "t", "x", window=16).collect()}
    xs = {t: (t * 37) % 1000 for t in range(40)}
    for t in range(40):
        want = sum(xs.get(t - j, 0) * 2.0 ** (-j) for j in range(16) if t - j >= 0)
        assert got[(1, t)] == want, t  # EXACT equality, not approx
    assert got[(2, 0)] == 8.0


# ------------------------------------------------------------ theil-sen
def test_theil_sen_robust_to_outlier(spark):
    from pda_spark.operators import temporal

    # y = 2x except one wild outlier; OLS would move, Theil-Sen holds 2.0
    rows = [(1, x, 2 * x) for x in range(9)] + [(1, 9, 1000)]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    r = temporal.theil_sen_slope(df, "k", "x", "y").collect()[0]
    assert r.n == 10 and r.n_pairs == 45
    import itertools

    slopes = sorted(
        (yb - ya) / (xb - xa)
        for (xa, ya), (xb, yb) in itertools.combinations([(x, 2 * x) for x in range(9)] + [(9, 1000)], 2)
    )
    want = (slopes[22] + slopes[22]) / 2 if len(slopes) % 2 else (slopes[21] + slopes[22]) / 2
    assert r.slope == round(want, 6)
    assert r.slope == 2.0


# ----------------------------------------------------- global rank / SNM
def test_global_rank_matches_single_window(spark):
    from pda_spark.functions import dedup

    rows = [(i, (i * 37) % 101) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "v"])
    got = {
        r.id: r.rank
        for r in dedup.global_rank(df, ["v", "id"], num_ranges=8).collect()
    }
    want = {
        i: rk + 1
        for rk, (v, i) in enumerate(sorted((v, i) for i, v in rows))
    }
    assert got == want


def test_sorted_neighborhood_pairs_vs_oracle(spark):
    from pda_spark.functions import dedup

    rows = [(i, (i * 37) % 101) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "v"])
    got = sorted(
        (r.id_a, r.id_b, r.rank_a, r.rank_b)
        for r in dedup.sorted_neighborhood_pairs(df, "id", ["v"], window=2).collect()
    )
    order = [i for v, i in sorted((v, i) for i, v in rows)]
    want = sorted(
        (order[a], order[b], a + 1, b + 1)
        for a in range(len(order))
        for b in (a + 1, a + 2)
        if b < len(order)
    )
    assert got == want


# ------------------------------------------------------------------ dtw
def _dtw_ref(A, B):
    n, m = len(A), len(B)
    INF = float("inf")
    c = [[INF] * m for _ in range(n)]
    for i in range(n):
        for j in range(m):
            d = abs(A[i][0] - B[j][0]) + abs(A[i][1] - B[j][1])
            if i == 0 and j == 0:
                c[i][j] = d
            else:
                best = min(
                    c[i - 1][j] if i else INF,
                    c[i][j - 1] if j else INF,
                    c[i - 1][j - 1] if i and j else INF,
                )
                c[i][j] = d + best
    return c[n - 1][m - 1]


def test_dtw_join_vs_reference(spark):
    from pda_spark.operators import temporal

    t1 = [(0, 0), (1, 0), (2, 0), (3, 0)]
    t2 = [(0, 1), (1, 1), (1, 1), (2, 1), (3, 1)]  # different length + a repeat
    t3 = [(10, 10)]
    trajs = spark.createDataFrame(
        [
            (1, [p[0] for p in t1], [p[1] for p in t1]),
            (2, [p[0] for p in t2], [p[1] for p in t2]),
            (3, [p[0] for p in t3], [p[1] for p in t3]),
        ],
        "key long, xs array<long>, ys array<long>",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], ["key_a", "key_b"])
    got = {
        (r.key_a, r.key_b): (r.len_a, r.len_b, r.dtw)
        for r in temporal.dtw_join(trajs, pairs).collect()
    }
    ts = {1: t1, 2: t2, 3: t3}
    for a, b in [(1, 2), (1, 3), (2, 3)]:
        assert got[(a, b)] == (len(ts[a]), len(ts[b]), _dtw_ref(ts[a], ts[b]))


# ---------------------------------------------------------------- k-core
def _kcore_ref(edges, k):
    """Reference full k-core (peel to fixed point)."""
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    return {n: len(ns) for n, ns in adj.items()}


def test_kcore_peel_cascade(spark):
    """A chain hung off a clique cascades away node by node; the clique
    survives. Enough rounds == the true k-core."""
    from pda_spark.functions import graph

    clique = [(a, b) for a in range(5) for b in range(5) if a < b]  # K5, deg 4
    # K4-minus-an-edge hung off the clique: 12/13 peel first (deg 2),
    # THEN 10/11 lose support — a genuine multi-round cascade
    cascade = [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (4, 10)]
    tri = [(20, 21), (21, 22), (22, 20)]  # triangle, deg 2 < 3
    edges = clique + cascade + tri
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.id: r.deg for r in graph.kcore_peel(df, k=3, rounds=8).collect()}
    assert got == _kcore_ref(edges, 3)
    assert set(got) == {0, 1, 2, 3, 4}  # the K5 only; cascade peeled off
    # too few rounds = partial peel (the documented contract)
    partial = {r.id: r.deg for r in graph.kcore_peel(df, k=3, rounds=1).collect()}
    assert 10 in partial and 11 in partial  # not fully cascaded after 1 round


# ------------------------------------------------------------------ scd2
def test_scd2_intervals_semantics(spark):
    from datetime import datetime

    from pda_spark.operators import timeseries

    T = datetime
    rows = [
        (1, T(2024, 1, 1), 1, "a"),
        (1, T(2024, 1, 2), 2, "a"),   # same attr -> same version
        (1, T(2024, 1, 3), 3, "b"),   # change -> v2
        (1, T(2024, 1, 4), 4, "a"),   # back to a -> v3 (not merged with v1)
        (2, T(2024, 1, 1), 5, None),  # NULL attr opens v1
        (2, T(2024, 1, 2), 6, None),  # NULL == NULL -> same version
        (2, T(2024, 1, 3), 7, "x"),   # NULL -> x is a change
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "seq", "attr"])
    out = {
        (r.key, r.version): (r.attr, r.n_rows, r.is_current, r.valid_to_us)
        for r in timeseries.scd2_intervals(df, "k", "ts", ["attr"], "seq").collect()
    }
    assert out[(1, 1)][0] == "a" and out[(1, 1)][1] == 2 and not out[(1, 1)][2]
    assert out[(1, 2)][0] == "b" and out[(1, 2)][1] == 1
    assert out[(1, 3)] == ("a", 1, True, None)
    assert out[(2, 1)][0] is None and out[(2, 1)][1] == 2
    assert out[(2, 2)] == ("x", 1, True, None)
    # adjacent versions tile: v1.valid_to == v2.valid_from
    rowsd = {
        (r.key, r.version): r
        for r in timeseries.scd2_intervals(df, "k", "ts", ["attr"], "seq").collect()
    }
    assert rowsd[(1, 1)].valid_to_us == rowsd[(1, 2)].valid_from_us


# -------------------------------------------------------- rolling median
def test_rolling_median_frames(spark):
    from pda_spark.operators import timeseries

    vals = [5, 1, 100, 3, 2, 2, 9]
    df = spark.createDataFrame([(1, t, v) for t, v in enumerate(vals)], ["k", "t", "v"])
    got = {r.t: r.roll_med for r in timeseries.rolling_median(df, "k", "t", "v", window=3).collect()}
    import statistics

    for t in range(len(vals)):
        frame = vals[max(0, t - 2) : t + 1]
        assert got[t] == round(statistics.median(frame), 6), t


# ------------------------------------------------- bloom-pruned join
def test_bloom_pruned_join_equals_plain_join(spark):
    from pda_spark.functions import sketch

    fact = spark.createDataFrame(
        [(i, i % 37) for i in range(2000)] + [(9999, None)], "fid long, fk long"
    )
    dim = spark.createDataFrame([(j, f"d{j}") for j in range(0, 37, 3)], "dk long, name string")
    got = sorted(
        (r.fid, r.dk)
        for r in sketch.bloom_pruned_join(fact, dim, "fk", "dk", k=4, m=256).collect()
    )
    want = sorted((i, i % 37) for i in range(2000) if (i % 37) % 3 == 0)
    assert got == want  # identical to the plain join; NULL key dropped


# ------------------------------------------------------------------ twa
def test_time_weighted_avg_step_semantics(spark):
    from datetime import datetime

    from pda_spark.operators import timeseries

    T = datetime
    rows = [
        # key 1: 10 held 30s, then 20 held 70s -> twa = (10*30+20*70)/100
        (1, T(2024, 1, 1, 0, 0, 0), 10),
        (1, T(2024, 1, 1, 0, 0, 30), 20),
        (1, T(2024, 1, 1, 0, 1, 40), 99),  # last sample: no weight
        (2, T(2024, 1, 1), 5),  # single sample -> NULL twa
        # key 3: two samples at the SAME instant (tie) then one later
        (3, T(2024, 1, 1, 0, 0, 0), 4),
        (3, T(2024, 1, 1, 0, 0, 0), 2),
        (3, T(2024, 1, 1, 0, 0, 10), 0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    got = {r.key: r for r in timeseries.time_weighted_avg(df, "k", "ts", "v").collect()}
    M = 1_000_000  # t is epoch MICROseconds (q84 rule)
    assert got[1].twa_num == (10 * 30 + 20 * 70) * M and got[1].twa_den == 100 * M
    assert got[1].twa == 17.0
    assert got[2].twa is None and got[2].twa_den == 0
    # tie order (t, x): x=2 first (gap 0), x=4 carries the 10s gap
    assert got[3].twa_num == 4 * 10 * M and got[3].twa_den == 10 * M


# --------------------------------------------------------- gaps/islands
def test_gaps_islands(spark):
    from pda_spark.operators import timeseries

    rows = (
        [(1, d) for d in [5, 6, 7, 10, 12, 13]]
        + [(1, 6)]  # duplicate must not split the island
        + [(2, 100)]
    )
    df = spark.createDataFrame(rows, ["k", "d"])
    got = sorted(
        (r.key, r.island_start, r.island_end, r.island_len)
        for r in timeseries.gaps_islands(df, "k", "d").collect()
    )
    assert got == [(1, 5, 7, 3), (1, 10, 10, 1), (1, 12, 13, 2), (2, 100, 100, 1)]


# ------------------------------------------------------------------ bpe
def test_bpe_merge_tokenize_semantics(spark):
    from pda_spark.functions import text as text_fns

    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("in", "g")]
    rows = [(1, "the thing"), (2, "aaa"), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.n_chars)
        for r in text_fns.bpe_merge_tokenize(df, merges).collect()
    }
    # 'the' -> 't h e' -> 'th e' -> 'the' = 1 token
    # 'thing' -> 'th i n g' -> 'th in g' -> 'th ing' = 2 tokens
    assert got[1] == (2, 3, 8)
    assert got[2] == (1, 3, 3)  # no rules apply
    assert 3 not in got  # empty text -> zero words -> no row
    # empty merge table: n_tokens == n_chars
    raw = {
        r.doc_id: (r.n_tokens, r.n_chars)
        for r in text_fns.bpe_merge_tokenize(df, []).collect()
    }
    assert raw[1] == (8, 8)


def test_bpe_merge_no_boundary_crossing(spark):
    """Round-6 review regression: rule (e, r) must NOT consume the
    trailing e OF token 'the' in 'o the r' — merges apply only to
    token-ADJACENT pairs (sentinel-space delimiting)."""
    from pda_spark.functions import text as text_fns

    merges = [("t", "h"), ("th", "e"), ("e", "r")]
    df = spark.createDataFrame([(1, "other")], ["doc_id", "text"])
    r = text_fns.bpe_merge_tokenize(df, merges).collect()[0]
    # 'other' -> [o, th, e, r] -> [o, the, r]: the (e, r) rule finds no
    # adjacent pair (e is inside 'the'); buggy boundary-crossing gave 2
    assert (r.n_words, r.n_tokens, r.n_chars) == (1, 3, 5)
    # documented under-merge on identical-pair runs: 'aaaa' -> [aa a a]
    df2 = spark.createDataFrame([(1, "aaaa")], ["doc_id", "text"])
    r2 = text_fns.bpe_merge_tokenize(df2, [("a", "a")]).collect()[0]
    assert r2.n_tokens == 3


# ------------------------------------------------- cms join size / wmed
def test_cms_join_size_upper_bound(spark):
    """CMS inner-product estimate must upper-bound the true join size
    and be exact when no collisions occur."""
    from pda_spark.functions import sketch

    a = spark.createDataFrame([(i % 10,) for i in range(1000)], "k long")
    b = spark.createDataFrame([(j,) for j in range(0, 20)], "k long")
    true_size = a.join(b, "k").count()  # 1000 (every a-row matches once)
    est = sketch.cms_join_size(
        sketch.cms_build(a, "k", d=4, w=64), sketch.cms_build(b, "k", d=4, w=64)
    ).collect()[0]["est_join_size"]
    assert est >= true_size
    # disjoint keys -> every bucket product pairs different keys; with
    # w >> keys the min row often reaches 0-collision exactness, but the
    # GUARANTEE is only the bound — assert the bound, not equality
    c = spark.createDataFrame([(j,) for j in range(100, 120)], "k long")
    est2 = sketch.cms_join_size(
        sketch.cms_build(a, "k", d=4, w=64), sketch.cms_build(c, "k", d=4, w=64)
    ).collect()[0]["est_join_size"]
    # mismatched build depths: only the COMMON hash rows estimate (the
    # review case — d-mismatch must not collapse the bound to 0)
    est3 = sketch.cms_join_size(
        sketch.cms_build(a, "k", d=2, w=64), sketch.cms_build(b, "k", d=4, w=64)
    ).collect()[0]["est_join_size"]
    assert est3 >= true_size
    assert est2 >= 0


def test_weighted_median_semantics(spark):
    from pda_spark.functions import profiling

    rows = [("g", 1, 1), ("g", 2, 1), ("g", 3, 10), ("h", 5, 2), ("h", 6, 2)]
    df = spark.createDataFrame(rows, ["k", "v", "w"])
    got = {
        r.k: (r.w_total, r.wmedian)
        for r in profiling.weighted_median(df, "v", "w", ["k"]).collect()
    }
    assert got["g"] == (12, 3)  # cum: 1,2,12 -> first 2*cw>=12 is v=3
    assert got["h"] == (4, 5)   # even split -> LOWER median = 5


def test_weighted_median_excludes_null_and_nonpositive_weights(spark):
    from pda_spark.functions import profiling

    rows = [
        ("g", 1, None), ("g", 2, 0), ("g", 3, -5), ("g", 4, 1), ("g", 5, 1),
        ("z", 7, 0), ("z", 8, None),
    ]
    df = spark.createDataFrame(rows, "k string, v int, w int")
    got = {
        r.k: (r.w_total, r.wmedian)
        for r in profiling.weighted_median(df, "v", "w", ["k"]).collect()
    }
    # only v=4 and v=5 carry weight: W=2, LOWER median 4; a group with
    # no positive weight has no median at all
    assert got == {"g": (2, 4)}


def test_robust_outliers_flags(spark):
    from pda_spark.functions import profiling

    rows = [("a", v) for v in [10, 11, 12, 13, 14, 1000]]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r.value: r.is_outlier for r in profiling.robust_outliers(df, "v", ["g"]).collect()}
    assert out[1000.0] is True
    assert out[10.0] is False and out[14.0] is False


# ----------------------------------------------------------- comovement
def test_comovement_pairs(spark):
    from datetime import datetime

    from pda_spark.operators import temporal

    T = datetime
    day = lambda d: T(2024, 1, d)
    rows = (
        # users 1 & 2 share cell (0,0) on days 1,2,3 -> run of 3
        [(1, day(d), 0.5, 0.5) for d in (1, 2, 3)]
        + [(2, day(d), 0.6, 0.4) for d in (1, 2, 3)]
        # user 3 joins them only on days 1 and 3 -> no consecutive run
        + [(3, day(1), 0.5, 0.5), (3, day(3), 0.5, 0.5)]
        # user 4 shares with 1 on days 2,3 but in a DIFFERENT cell
        + [(4, day(2), 5.5, 0.5), (4, day(3), 5.5, 0.5)]
    )
    df = spark.createDataFrame(rows, ["user_id", "ts", "lon", "lat"])
    got = sorted(
        (r.user_a, r.user_b, r.run_len)
        for r in temporal.comovement_pairs(
            df, cell_deg=1.0, bucket_us=86_400_000_000, min_consecutive=2
        ).collect()
    )
    assert got == [(1, 2, 3)]


# ------------------------------------------------------------------ hhi
def test_hhi_concentration(spark):
    from pda_spark.functions import profiling

    rows = [("m", "a", 50), ("m", "a", 50), ("m", "b", 100), ("u", "c", 10), ("u", "d", 10)]
    df = spark.createDataFrame(rows, ["g", "member", "v"])
    got = {r.g: (r.n_members, r.hhi_num, r.total, r.hhi) for r in
           profiling.hhi_concentration(df, ["g"], "member", "v").collect()}
    # m: members a=100, b=100 -> num 20000, total 200, hhi 0.5
    assert got["m"] == (2, 20000, 200, 0.5)
    assert got["u"] == (2, 200, 20, 0.5)


# ---------------------------------------------------------- interpolate
def test_interpolate_gaps_cases(spark):
    from pda_spark.operators import timeseries

    rows = [
        (1, 0, 10), (1, 1, None), (1, 2, None), (1, 3, 40),  # two-gap ramp
        (1, 4, None),                                        # trailing -> NULL
        (2, 0, None), (2, 1, 7),                             # leading -> NULL
    ]
    df = spark.createDataFrame(rows, "k long, t long, v long")
    got = {(r.key, r.t): r.filled for r in
           timeseries.interpolate_gaps(df, "k", "t", "v").collect()}
    assert got[(1, 0)] == 10.0 and got[(1, 3)] == 40.0
    assert got[(1, 1)] == 20.0 and got[(1, 2)] == 30.0
    assert got[(1, 4)] is None
    assert got[(2, 0)] is None and got[(2, 1)] == 7.0


# --------------------------------------------------------- snapshot diff
def test_snapshot_diff_change_types(spark):
    from pda_spark.functions import profiling

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (3, "c", 30), (5, "e", 50)],
        "k long, s string, v long",
    )
    got = {r.k: r.change for r in
           profiling.snapshot_diff(old, new, ["k"], ["s", "v"]).collect()}
    # 1 unchanged (absent), 2 changed (s), 3 changed (NULL -> 30), 4 removed, 5 added
    assert got == {2: "changed", 3: "changed", 4: "removed", 5: "added"}


# ---------------------------------------------------------------- benford
def test_benford_digits(spark):
    from pda_spark.functions import profiling

    vals = [1, 19, 100, 23, 2, 911, 0, -5, None]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r.digit: r.n for r in profiling.benford_digits(df, "v").collect()}
    assert got == {1: 3, 2: 2, 9: 1}  # 0/-5/NULL excluded


# -------------------------------------------------------------------- sax
def test_sax_symbols_word(spark):
    from pda_spark.operators import timeseries

    # frames of 4: means 10, 0, -10; trailing partial frame dropped
    vals = [10] * 4 + [0] * 4 + [-10] * 4 + [99]
    df = spark.createDataFrame([(1, t, v) for t, v in enumerate(vals)], "k long, t long, v long")
    r = timeseries.sax_symbols(
        df, "k", "t", "v", frame=4, breakpoints=(-5.0, 5.0), alphabet="abc"
    ).collect()[0]
    assert (r.n_frames, r.word) == (3, "cba")


# ------------------------------------------------------------- tree root
def test_tree_root_depth_chain_and_forest(spark):
    from pda_spark.functions import graph

    # chain 1<-2<-3<-4<-5 (parent of k is k-1), plus star 10<-{11,12}
    rows = [(k, k - 1) for k in range(2, 6)] + [(11, 10), (12, 10)]
    df = spark.createDataFrame(rows, ["id", "parent"])
    got = {r.id: (r.root, r.depth) for r in graph.tree_root_depth(df, rounds=4).collect()}
    assert got[5] == (1, 4) and got[2] == (1, 1) and got[1] == (1, 0)
    assert got[11] == (10, 1) and got[10] == (10, 0)
    # insufficient rounds: depth-4 node cannot fully resolve at 2^1 hops
    part = {r.id: r.depth for r in graph.tree_root_depth(df, rounds=1).collect()}
    assert part[5] == 2  # resolved only 2 hops up


# -------------------------------------------------------------- pearson
def test_pearson_exact_known_values(spark):
    from pda_spark.operators import temporal

    rows = (
        [(1, x, 2 * x + 1) for x in range(10)]          # perfect +1
        + [(2, x, -3 * x) for x in range(5)]            # perfect -1
        + [(3, 1, 5), (3, 2, 5), (3, 3, 5)]             # zero y-variance
    )
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    got = {r.key: r.r for r in temporal.pearson_exact(df, "k", "x", "y").collect()}
    assert got[1] == 1.0 and got[2] == -1.0 and got[3] is None


# -------------------------------------------- normalize / encode / slide
def test_minmax_normalize_cases(spark):
    from pda_spark.functions import profiling

    rows = [("a", 0), ("a", 50), ("a", 100), ("b", 7), ("b", 7), ("c", None)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = [
        (r.g, r.v, r.v_norm)
        for r in profiling.minmax_normalize(df, "v", ["g"]).collect()
    ]
    d = {(g, v): n for g, v, n in got}
    assert d[("a", 0)] == 0.0 and d[("a", 50)] == 0.5 and d[("a", 100)] == 1.0
    assert d[("b", 7)] is None  # degenerate group -> NULL, not 0
    assert d[("c", None)] is None


def test_label_encode_sorted_dense(spark):
    from pda_spark.functions import profiling

    df = spark.createDataFrame([("b",), ("a",), ("c",), ("a",), (None,)], "v string")
    got = {r.value: r.label_id for r in profiling.label_encode(df, "v").collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_sliding_distinct_count(spark):
    from pda_spark.operators import timeseries

    vals = ["x", "y", "x", "z", "z", "y"]
    df = spark.createDataFrame(
        [(1, t, v) for t, v in enumerate(vals)], "k long, t long, v string"
    )
    got = {r.t: r.n_distinct for r in
           timeseries.sliding_distinct_count(df, "k", "t", "v", window=3).collect()}
    assert got == {0: 1, 1: 2, 2: 2, 3: 3, 4: 2, 5: 2}


# ------------------------------------------------------------- auc / fh
def test_auc_exact_vs_sklearn_style(spark):
    from pda_spark.functions import profiling

    # hand-computable: scores [1,2,3,4], labels [0,0,1,1] -> AUC 1.0;
    # ties: scores [5,5], labels [0,1] contribute 0.5
    rows = (
        [(1, 1, 0), (1, 2, 0), (1, 3, 1), (1, 4, 1)]
        + [(2, 5, 0), (2, 5, 1)]
        + [(3, 9, 1), (3, 9, 1)]  # no negatives -> NULL
    )
    df = spark.createDataFrame(rows, ["k", "s", "y"])
    got = {r.key: r.auc for r in profiling.auc_exact(df, "k", "s", "y").collect()}
    assert got[1] == 1.0
    assert got[2] == 0.5
    assert got[3] is None
    # python reference on a messier series
    import itertools, random
    rnd = [(4, (i * 37) % 23, 1 if (i * 13) % 3 == 0 else 0) for i in range(60)]
    df2 = spark.createDataFrame(rnd, ["k", "s", "y"])
    r = profiling.auc_exact(df2, "k", "s", "y").collect()[0]
    pos = [s for _, s, y in rnd if y == 1]
    neg = [s for _, s, y in rnd if y == 0]
    want = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg) / (
        len(pos) * len(neg)
    )
    assert r.auc == round(want, 6)


def test_feature_hash_counts(spark):
    from pda_spark.functions import profiling

    df = spark.createDataFrame([(1, "a b a"), (2, "")], ["doc_id", "text"])
    rows = profiling.feature_hash(df, "doc_id", "text", dim=16).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, 0)
        per_doc[r.doc_id] += r["count"]
    assert per_doc == {1: 3}  # occurrences, not distinct; empty doc -> no rows


# ------------------------------------------------------- global cumsum
def test_global_cumsum_matches_single_window(spark):
    from pda_spark.functions import dedup

    rows = [(i, (i * 7) % 13) for i in range(300)]
    df = spark.createDataFrame(rows, ["t", "v"])
    got = {r.t: r.cumsum for r in dedup.global_cumsum(df, ["t"], "v", num_ranges=8).collect()}
    acc, want = 0, {}
    for t, v in sorted(rows):
        acc += v
        want[t] = acc
    assert got == want
