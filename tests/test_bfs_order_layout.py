"""Round-8 additions: multi-source BFS (operators/graph.py bfs_hops),
distributed global rank (operators/windows.py global_row_number),
Hilbert-curve keys (operators/layout.py hilbert_key), and the
curriculum stride interleave — each pinned against an independent
pure-Python or textbook reference, not against itself."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from conftest import SF_SMALL

from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import bfs_hops
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.layout import (
    HILBERT_DIGIT,
    HILBERT_NEXT,
    HILBERT_STATES,
    hilbert_key,
    hilbert_key_sql,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.windows import (
    global_row_number,
)


# --- BFS ----------------------------------------------------------------------


def _hops(spark, edges, seeds, max_hops, **kw):
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    s = spark.createDataFrame([(x,) for x in seeds], "id long")
    return {
        r["id"]: r["hops"]
        for r in bfs_hops(e, s, max_hops=max_hops, **kw).collect()
    }


PATH = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]


def test_bfs_path_graph_single_seed(spark):
    got = _hops(spark, PATH, [1], 4)
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}  # 6 is 5 hops away


def test_bfs_multi_seed_takes_min(spark):
    got = _hops(spark, PATH, [1, 6], 4)
    assert got == {1: 0, 6: 0, 2: 1, 5: 1, 3: 2, 4: 2}


def test_bfs_zero_hops_is_seed_set(spark):
    assert _hops(spark, PATH, [3], 0) == {3: 0}


def test_bfs_early_exit_on_exhausted_component(spark):
    # component {1,2,3} exhausts at hop 2; loop must stop, not run 50x
    got = _hops(spark, [(1, 2), (2, 3), (7, 8)], [1], 50)
    assert got == {1: 0, 2: 1, 3: 2}


def test_bfs_duplicate_edges_and_symmetric_flags_invariant(spark):
    base = _hops(spark, PATH, [1], 4)
    dup = PATH + PATH + [(b, a) for a, b in PATH]
    assert _hops(spark, dup, [1], 4, dedup_edges=False) == base
    assert (
        _hops(spark, dup, [1], 4, assume_symmetric=True, dedup_edges=False)
        == base
    )


def test_bfs_partitioning_invariant(spark):
    e = spark.createDataFrame(PATH, "id_a long, id_b long").repartition(7)
    s = spark.createDataFrame([(1,)], "id long")
    got = {r["id"]: r["hops"] for r in bfs_hops(e, s, max_hops=4).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bfs_rejects_negative_max_hops(spark):
    e = spark.createDataFrame(PATH, "id_a long, id_b long")
    s = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError):
        bfs_hops(e, s, max_hops=-1)


# --- global_row_number --------------------------------------------------------


@pytest.mark.parametrize("nparts", [None, 1, 3, 64])
def test_global_row_number_matches_sorted_enumeration(spark, nparts):
    import random

    rng = random.Random(42)
    rows = [(rng.randrange(1000), i) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, uid long")
    got = {
        r["uid"]: r["position"]
        for r in global_row_number(
            df, ["k", "uid"], num_partitions=nparts
        ).collect()
    }
    expected = {
        uid: pos + 1
        for pos, (_, uid) in enumerate(sorted(rows))
    }
    assert got == expected


def test_global_row_number_no_single_partition_exchange(spark):
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    plan = global_row_number(
        df, ["k", "id"], num_partitions=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_global_row_number_empty_input(spark):
    df = spark.createDataFrame([], "k long, uid long")
    out = global_row_number(df, ["k", "uid"])
    assert out.collect() == []
    assert "position" in out.columns


# --- Hilbert ------------------------------------------------------------------


def _xy2d(order: int, x: int, y: int) -> int:
    """The literal textbook mutating loop (Wikipedia 'Hilbert curve'
    C snippet) — the independent reference the automaton must match."""
    d = 0
    s = 1 << (order - 1)
    n = 1 << order
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s >>= 1
    return d


def _auto(order: int, x: int, y: int) -> int:
    st, d = 0, 0
    for i in range(order - 1, -1, -1):
        q = 2 * ((x >> i) & 1) + ((y >> i) & 1)
        d = d * 4 + HILBERT_DIGIT[st * 4 + q]
        st = HILBERT_NEXT[st * 4 + q]
    return d


def test_hilbert_automaton_matches_textbook_exhaustive():
    assert HILBERT_STATES == 4
    for x in range(256):
        for y in range(256):
            assert _auto(8, x, y) == _xy2d(8, x, y)


def test_hilbert_is_unit_step_bijection():
    d2xy = {}
    for x in range(64):
        for y in range(64):
            d2xy[_auto(6, x, y)] = (x, y)
    assert len(d2xy) == 4096  # bijection onto [0, 4096)
    for i in range(4095):
        (x0, y0), (x1, y1) = d2xy[i], d2xy[i + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1  # unit Manhattan steps


def test_hilbert_key_column_matches_python(spark):
    import random

    rng = random.Random(7)
    rows = [(rng.randrange(256), rng.randrange(256)) for _ in range(300)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = [
        r["h"]
        for r in df.withColumn("h", hilbert_key("x", "y", bits=8))
        .orderBy("x", "y")
        .collect()
    ]
    exp = [_auto(8, x, y) for x, y in sorted(rows)]
    assert got == exp


def test_hilbert_sql_twin_matches_python():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT (i * 37) % 256 AS px,"
        " (i * 91) % 256 AS sx FROM range(500) t(i)"
    )
    frag = hilbert_key_sql("px", "sx", bits=8, carry=["px", "sx"]).replace(
        "__HILBERT_BASE__", "pts"
    )
    rows = con.sql(
        f"SELECT px, sx, hkey FROM {frag} t ORDER BY px, sx"
    ).fetchall()
    for px, sx, hkey in rows:
        assert hkey == _auto(8, px, sx)


def test_hilbert_validates_bits():
    with pytest.raises(ValueError):
        hilbert_key("x", "y", bits=0)
    with pytest.raises(ValueError):
        hilbert_key("x", "y", bits=32)


# --- curriculum interleave ----------------------------------------------------


def test_curriculum_interleave_matches_stride_simulation(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.trainprep_queries import (
        q_curriculum_interleave,
    )

    got = {
        r["doc_id"]: (r["curriculum_pos"], r["vt"])
        for r in q_curriculum_interleave(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, source, n_chars FROM '{SF_SMALL}/documents.parquet'"
    ).fetchall()
    chars: dict[str, int] = {}
    for _, src, n in docs:
        chars[src] = chars.get(src, 0) + n
    ranked = sorted(docs)  # doc_id order; per-source rank below
    seen: dict[str, int] = {}
    items = []
    for doc_id, src, _ in ranked:
        r = seen.get(src, 0) + 1
        seen[src] = r
        items.append(((r * 10**12) // chars[src], src, r, doc_id))
    items.sort()
    expected = {
        doc_id: (pos + 1, vt)
        for pos, (vt, _src, _r, doc_id) in enumerate(items)
    }
    assert got == expected


def test_curriculum_prefix_is_mixture_proportional(spark):
    """Any prefix of the epoch should hold each source's share of docs
    to within one stride — the property stride scheduling exists for."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.trainprep_queries import (
        q_curriculum_interleave,
    )

    rows = sorted(
        q_curriculum_interleave(spark, SF_SMALL).collect(),
        key=lambda r: r["curriculum_pos"],
    )
    n = len(rows)
    sources = {r["source"] for r in rows}
    totals = {s: sum(1 for r in rows if r["source"] == s) for s in sources}
    k = n // 4
    prefix = rows[:k]
    for s in sources:
        got = sum(1 for r in prefix if r["source"] == s)
        expect = totals[s] * k / n
        assert abs(got - expect) <= max(2.0, 0.25 * expect)


def test_hilbert_files_tighter_than_zorder_on_unaligned_splits(spark):
    """The claim layout_curve_compare exists to audit: with equal-count
    (boundary-unaligned) file splits, Hilbert's unit-step walk yields
    strictly tighter per-file bounding boxes than Morton."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.analytics_queries import (
        q_layout_curve_compare,
    )

    rows = {
        r["layout"]: (r["total_area"], r["max_area"])
        for r in q_layout_curve_compare(spark, SF_SMALL).collect()
    }
    assert rows["hilbert"][0] < rows["zorder"][0]
    assert rows["hilbert"][1] <= rows["zorder"][1]


# --- bounded Bellman-Ford -----------------------------------------------------


def _costs(spark, edges, seeds, rounds):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        min_cost_bounded,
    )

    e = spark.createDataFrame(edges, "u long, v long, w long")
    s = spark.createDataFrame([(x,) for x in seeds], "id long")
    return {
        r["id"]: r["cost"]
        for r in min_cost_bounded(e, s, rounds=rounds).collect()
    }


# diamond with a cheap long way round: 1->2->3 costs 2, 1->3 costs 10
DIAMOND = [(1, 2, 1), (2, 3, 1), (1, 3, 10), (3, 4, 1)]


def test_bellman_ford_prefers_cheap_multi_hop_path(spark):
    got = _costs(spark, DIAMOND, [1], 3)
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bellman_ford_hop_bound_is_the_contract(spark):
    # with only 1 round, the cheap 2-edge route to 3 is out of reach
    got = _costs(spark, DIAMOND, [1], 1)
    assert got == {1: 0, 2: 1, 3: 10}


def test_bellman_ford_rounds_past_fixpoint_are_noops(spark):
    assert _costs(spark, DIAMOND, [1], 3) == _costs(spark, DIAMOND, [1], 10)


def test_bellman_ford_multi_seed_min(spark):
    got = _costs(spark, DIAMOND, [1, 4], 2)
    assert got[3] == 2 and got[4] == 0 and got[1] == 0


def test_bellman_ford_zero_rounds(spark):
    assert _costs(spark, DIAMOND, [2], 0) == {2: 0}


def test_bellman_ford_rejects_negative_rounds(spark):
    import pytest as _pytest

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        min_cost_bounded,
    )

    e = spark.createDataFrame(DIAMOND, "u long, v long, w long")
    s = spark.createDataFrame([(1,)], "id long")
    with _pytest.raises(ValueError):
        min_cost_bounded(e, s, rounds=-1)


# --- vocabulary growth curve --------------------------------------------------


def test_vocab_growth_totals_reconcile(spark):
    """Final cumulatives must equal independently computed corpus
    totals (token volume, global vocab size, doc count)."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.trainprep_queries import (
        q_vocab_growth_curve,
    )

    rows = sorted(
        q_vocab_growth_curve(spark, SF_SMALL).collect(),
        key=lambda r: r["bucket"],
    )
    con = duckdb.connect()
    n_tok, n_vocab, n_docs = con.sql(
        "SELECT COUNT(*), COUNT(DISTINCT t), COUNT(DISTINCT doc_id) FROM ("
        " SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t"
        f" FROM '{SF_SMALL}/documents.parquet')"
    ).fetchone()
    last = rows[-1]
    assert last["cum_tokens"] == n_tok
    assert last["cum_types"] == n_vocab
    assert sum(r["n_docs"] for r in rows) == n_docs
    # cumulatives are consistent prefix sums and types never outgrow tokens
    ct = cy = 0
    for r in rows:
        ct += r["n_tokens"]
        cy += r["new_types"]
        assert r["cum_tokens"] == ct and r["cum_types"] == cy
        assert r["new_types"] <= r["n_tokens"]


# --- OHLC merge algebra -------------------------------------------------------


def test_ohlc_partials_merge_equals_one_shot(spark):
    """The streaming_ohlc_bars contract in miniature: partial bars
    carrying their (ts, id) evidence keys merge (min_by/max_by over
    partials) to exactly the one-shot aggregate, for ANY split."""
    rows = [
        # (grp, ts, id, value) — bucket is grp here
        ("a", 10, 1, 5.0), ("a", 20, 2, 9.0), ("a", 30, 3, 1.0),
        ("a", 40, 4, 7.0), ("b", 15, 5, 2.0), ("b", 5, 6, 8.0),
    ]
    df = spark.createDataFrame(rows, "g string, ts long, id long, v double")
    key = F.struct(F.col("ts"), F.col("id"))

    def one_shot(d):
        return {
            r["g"]: (r["o"], r["h"], r["l"], r["c"], r["n"])
            for r in d.groupBy("g").agg(
                F.min_by("v", key).alias("o"), F.max("v").alias("h"),
                F.min("v").alias("l"), F.max_by("v", key).alias("c"),
                F.count(F.lit(1)).alias("n"),
            ).collect()
        }

    expected = one_shot(df)
    for split in (F.col("id") % 2, F.col("id") % 3, F.col("ts") > 15):
        parts = []
        for half in (df.filter(split.cast("int") == 0),
                     df.filter(split.cast("int") != 0)):
            parts.append(
                half.groupBy("g").agg(
                    F.min_by("v", key).alias("o"), F.min(key).alias("ok"),
                    F.max("v").alias("h"), F.min("v").alias("l"),
                    F.max_by("v", key).alias("c"), F.max(key).alias("ck"),
                    F.count(F.lit(1)).alias("n"),
                )
            )
        partials = parts[0].unionByName(parts[1])
        merged = {
            r["g"]: (r["o"], r["h"], r["l"], r["c"], r["n"])
            for r in partials.groupBy("g").agg(
                F.min_by("o", F.col("ok")).alias("o"),
                F.max("h").alias("h"), F.min("l").alias("l"),
                F.max_by("c", F.col("ck")).alias("c"),
                F.sum("n").alias("n"),
            ).collect()
        }
        assert merged == expected


def test_cluster_by_hilbert_orders_files_by_curve(spark, tmp_path):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.layout import (
        cluster_by_hilbert,
    )

    df = spark.createDataFrame(
        [(x, y) for x in range(0, 256, 8) for y in range(0, 256, 8)],
        "x long, y long",
    )
    out = str(tmp_path / "clustered")
    cluster_by_hilbert(df, "x", "y", num_partitions=4).write.parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    # per written file, key ranges must be disjoint (range partitioning)
    import pyarrow.parquet as pq
    import glob as _glob

    ranges = []
    for f in _glob.glob(out + "/part-*.parquet"):
        t = pq.read_table(f).to_pydict()
        ks = sorted(
            _auto(8, xx, yy) for xx, yy in zip(t["x"], t["y"])
        )
        if ks:
            ranges.append((ks[0], ks[-1]))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2


# --- Holt linear forecast -----------------------------------------------------


def _holt_py(ys):
    """Pure-Python third implementation of the integer Holt walk."""
    def fdiv2(x):
        return (x - (x & 1)) // 2

    out = []
    l, b = ys[0], 0
    out.append((ys[0], l, b))
    for y in ys[1:]:
        l2 = fdiv2(y + l + b)
        b = fdiv2(b + l2 - l)
        l = l2
        out.append((y, l, b))
    return out


def test_holt_matches_pure_python_on_testdata(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.analytics_queries import (
        q_revenue_holt_forecast,
    )

    rows = sorted(
        q_revenue_holt_forecast(spark, SF_SMALL).collect(),
        key=lambda r: r["m"],
    )
    ys = [r["rev_cents"] for r in rows]
    exp = _holt_py(ys)
    for r, (y, l, b) in zip(rows, exp):
        assert (r["rev_cents"], r["level_cents"], r["trend_cents"]) == (
            y, l, b,
        )
        assert r["forecast_next_cents"] == l + b


def test_holt_properties():
    # constant series: level locks to the constant, trend decays to 0
    out = _holt_py([100] * 20)
    assert out[-1][1] == 100 and out[-1][2] == 0
    # exact linear growth: forecast converges onto the next value
    ys = [1000 + 50 * i for i in range(30)]
    out = _holt_py(ys)
    l, b = out[-1][1], out[-1][2]
    assert abs((l + b) - (ys[-1] + 50)) <= 2  # integer-rounding slack
    # negative trend exercises the fdiv2 parity trick on negatives
    ys = [10_000 - 123 * i for i in range(25)]
    out = _holt_py(ys)
    assert out[-1][2] < 0


# --- weighted PageRank --------------------------------------------------------


def _wpr_py(edges, iters=3, d=85, scale=10**12):
    """Pure-Python reference of the integer weighted-PageRank walk."""
    verts = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    n = len(verts)
    init = scale // n
    base = ((100 - d) * init) // 100
    wsum = {}
    for u, _, w in edges:
        wsum[u] = wsum.get(u, 0) + w
    r = {v: init for v in verts}
    for _ in range(iters):
        inbound = {}
        for u, v, w in edges:
            inbound[v] = inbound.get(v, 0) + (r[u] * w) // wsum[u]
        r = {v: base + (d * inbound.get(v, 0)) // 100 for v in verts}
    return r


WEDGES = [(1, 2, 9), (1, 3, 1), (2, 1, 5), (3, 1, 5), (2, 3, 5), (3, 2, 5)]


def test_weighted_pagerank_matches_pure_python(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        pagerank_weighted,
    )

    e = spark.createDataFrame(WEDGES, "u long, v long, w long")
    got = {
        r["id"]: r["rank_fp"] for r in pagerank_weighted(e).collect()
    }
    assert got == _wpr_py(WEDGES)
    # weighting matters: 1 sends 90% of its mass to 2, so 2 outranks 3
    assert got[2] > got[3]


def test_weighted_pagerank_uniform_weights_equals_unweighted(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        pagerank_fixed,
        pagerank_weighted,
    )

    uni = [(u, v, 1) for u, v, _ in WEDGES]
    e = spark.createDataFrame(uni, "u long, v long, w long")
    got_w = {
        r["id"]: r["rank_fp"] for r in pagerank_weighted(e).collect()
    }
    got_u = {
        r["id"]: r["rank_fp"]
        for r in pagerank_fixed(
            e.select("u", "v"), src="u", dst="v"
        ).collect()
    }
    assert got_w == got_u


def test_weighted_pagerank_guards(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        pagerank_weighted,
    )

    bad = spark.createDataFrame([(1, 2, 0)], "u long, v long, w long")
    with pytest.raises(ValueError, match="positive"):
        pagerank_weighted(bad)
    big = spark.createDataFrame(
        [(1, 2, 2**62)], "u long, v long, w long"
    )
    with pytest.raises(ValueError, match="overflow"):
        pagerank_weighted(big)
    with pytest.raises(ValueError, match="iterations"):
        pagerank_weighted(bad, iterations=0)


# --- stateful streaming Holt --------------------------------------------------


class _FakeState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


def _run_holt_batches(batches):
    """Drive _holt_state_fn directly with pandas batches."""
    import pandas as pd

    from customer_360_etl_pipeline_on_azure_cloud_spark.streaming.stateful import (
        _holt_state_fn,
    )

    fn = _holt_state_fn()
    st = _FakeState()
    out = None
    for b in batches:
        df = pd.DataFrame(b, columns=["day", "cents"])
        out = list(fn(("k",), iter([df]), st))[-1]
    return st._v, out


def test_stateful_holt_state_carry_equals_one_batch():
    days = [(d, 100 + 7 * d) for d in range(1, 21)]
    one, _ = _run_holt_batches([days])
    split, _ = _run_holt_batches([days[:9], days[9:]])
    three, _ = _run_holt_batches([days[:5], days[5:13], days[13:]])
    assert one == split == three
    # and the fold equals the pure-Python batch walk
    exp = _holt_py([c for _, c in days])
    assert one[1] == exp[-1][1] and one[2] == exp[-1][2]
    assert one[0] == 20 and one[3] == 20


def test_stateful_holt_rejects_out_of_order_delivery():
    with pytest.raises(RuntimeError, match="in-order delivery"):
        _run_holt_batches([[(5, 10), (6, 11)], [(6, 12)]])
    with pytest.raises(RuntimeError, match="in-order delivery"):
        _run_holt_batches([[(5, 10)], [(3, 9)]])


def test_stateful_holt_sums_within_day_before_folding():
    merged, _ = _run_holt_batches([[(1, 60), (1, 40), (2, 30)]])
    presummed, _ = _run_holt_batches([[(1, 100), (2, 30)]])
    assert merged == presummed


# --- randomized cross-checks vs pure-Python references ------------------------


def _bfs_py(edges, seeds, max_hops):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    nxt.add(v)
        for v in nxt:
            dist[v] = h
        if not nxt:
            break
        frontier = nxt
    return dist


def _bf_py(wedges, seeds, rounds):
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        new = dict(dist)
        for u, v, w in wedges:
            if u in dist and dist[u] + w < new.get(v, float("inf")):
                new[v] = dist[u] + w
        dist = new
    return dist


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_bfs_random_graphs_match_reference(spark, seed):
    import random

    rng = random.Random(seed)
    n = 40
    edges = sorted(
        {
            tuple(sorted((rng.randrange(n), rng.randrange(n + 1))))
            for _ in range(60)
        }
    )
    edges = [(a, b) for a, b in edges if a != b]
    seeds = sorted({rng.randrange(n) for _ in range(3)})
    mh = rng.choice([1, 2, 3, 5])
    got = _hops(spark, edges, seeds, mh)
    assert got == _bfs_py(edges, seeds, mh)


@pytest.mark.parametrize("seed", [21, 22, 23])
def test_bellman_ford_random_graphs_match_reference(spark, seed):
    import random

    rng = random.Random(seed)
    n = 30
    wedges = sorted(
        {
            (rng.randrange(n), rng.randrange(n), rng.randrange(1, 50))
            for _ in range(70)
        }
    )
    wedges = [(u, v, w) for u, v, w in wedges if u != v]
    # parallel (u, v) edges with different weights survive — both the
    # operator and the reference relax every edge, so they agree
    seeds = sorted({rng.randrange(n) for _ in range(2)})
    rounds = rng.choice([1, 2, 4])
    got = _costs(spark, wedges, seeds, rounds)
    assert got == _bf_py(wedges, seeds, rounds)


@pytest.mark.parametrize("bits", [1, 2, 3, 5])
def test_hilbert_bijection_and_unit_steps_at_other_widths(bits):
    side = 1 << bits
    d2xy = {}
    for x in range(side):
        for y in range(side):
            d2xy[_auto(bits, x, y)] = (x, y)
    assert len(d2xy) == side * side
    for i in range(side * side - 1):
        (x0, y0), (x1, y1) = d2xy[i], d2xy[i + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1


def test_global_row_number_with_heavy_duplicate_keys(spark):
    # many ties on k; uid tiebreak makes the order total
    rows = [(i % 3, i) for i in range(300)]
    df = spark.createDataFrame(rows, "k long, uid long").repartition(13)
    got = {
        r["uid"]: r["position"]
        for r in global_row_number(df, ["k", "uid"], num_partitions=7)
        .collect()
    }
    exp = {uid: i + 1 for i, (_, uid) in enumerate(sorted(rows))}
    assert got == exp


# --- persisted graph index lifecycle ------------------------------------------


def test_graph_index_probes_equal_in_memory_ops(spark, tmp_path):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        bfs_hops,
        min_cost_bounded,
        read_graph_index,
        write_graph_index,
    )

    import random

    rng = random.Random(99)
    wedges = sorted(
        {
            (rng.randrange(25), rng.randrange(25), rng.randrange(1, 9))
            for _ in range(60)
        }
    )
    wedges = [(u, v, w) for u, v, w in wedges if u != v]
    e = spark.createDataFrame(wedges, "u long, v long, w long")
    seeds = spark.createDataFrame([(0,), (1,)], "id long")
    write_graph_index(e, "t_gidx", weight="w", num_buckets=2)
    idx = read_graph_index(spark, "t_gidx")

    mem_hops = {
        r["id"]: r["hops"]
        for r in bfs_hops(
            e.select("u", "v"), seeds, max_hops=3, src="u", dst="v"
        ).collect()
    }
    idx_hops = {
        r["id"]: r["hops"]
        for r in bfs_hops(
            idx, seeds, max_hops=3, src="u", dst="v", materialized=True
        ).collect()
    }
    assert idx_hops == mem_hops

    mem_cost = {
        r["id"]: r["cost"]
        for r in min_cost_bounded(e, seeds, rounds=3).collect()
    }
    idx_cost = {
        r["id"]: r["cost"]
        for r in min_cost_bounded(
            idx, seeds, rounds=3, materialized=True
        ).collect()
    }
    assert idx_cost == mem_cost


def test_graph_index_append_extends_the_graph(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        bfs_hops,
        read_graph_index,
        write_graph_index,
    )

    base = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1)], "u long, v long, w long"
    )
    write_graph_index(base, "t_gidx_app", num_buckets=2)
    seeds = spark.createDataFrame([(1,)], "id long")
    before = {
        r["id"]: r["hops"]
        for r in bfs_hops(
            read_graph_index(spark, "t_gidx_app"), seeds, max_hops=3,
            src="u", dst="v", materialized=True,
        ).collect()
    }
    assert before == {1: 0, 2: 1}
    day2 = spark.createDataFrame(
        [(2, 3, 1), (3, 2, 1)], "u long, v long, w long"
    )
    write_graph_index(day2, "t_gidx_app", num_buckets=2, mode="append")
    after = {
        r["id"]: r["hops"]
        for r in bfs_hops(
            read_graph_index(spark, "t_gidx_app"), seeds, max_hops=3,
            src="u", dst="v", materialized=True,
        ).collect()
    }
    assert after == {1: 0, 2: 1, 3: 2}


@pytest.mark.parametrize("kind", ["graph", "minhash", "ivf", "ivfpq"])
def test_graph_index_overwrite_survives_stale_location(spark, tmp_path, kind):
    """The cross-session LOCATION_ALREADY_EXISTS path: a catalog that
    forgot the index tables while their warehouse dirs remain must not
    break the next overwrite (the failure quick_subset_check hit live),
    and the stale files must not be adopted — for every index kind."""
    import os
    import shutil

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        read_minhash_index,
        write_minhash_index,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        read_graph_index,
        write_graph_index,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        read_ivf_index,
        read_ivfpq_index,
        write_ivf_index,
        write_ivfpq_index,
    )

    name = f"t_stale_{kind}"
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0, float(i % 7)]) for i in range(32)],
        "vec_id long, embedding array<double>",
    )
    write, read, suffixes, n = {
        "graph": (
            lambda: write_graph_index(
                spark.createDataFrame([(1, 2, 1)], "u long, v long, w long"),
                name, num_buckets=2,
            ),
            lambda: read_graph_index(spark, name),
            ["_edges"],
            1,
        ),
        "minhash": (
            lambda: write_minhash_index(
                spark.createDataFrame(
                    [(1, "alpha beta gamma delta"), (2, "beta gamma delta eps")],
                    "doc_id long, text string",
                ),
                name, num_buckets=2,
            ),
            lambda: read_minhash_index(spark, name).sig,
            ["_sig", "_bands", "_meta"],
            2,
        ),
        "ivf": (
            lambda: write_ivf_index(vecs, name, n_centroids=2, num_buckets=2),
            lambda: read_ivf_index(spark, name).assignments,
            ["_cells", "_centroids", "_meta"],
            32,
        ),
        "ivfpq": (
            lambda: write_ivfpq_index(
                vecs, name, n_centroids=2, m=2, ksub=2, num_buckets=2
            ),
            lambda: read_ivfpq_index(spark, name)[0],
            ["_codes", "_centroids", "_books", "_meta"],
            32,
        ),
    }[kind]
    write()
    # simulate a fresh session's catalog: tables forgotten, files left
    # (DROP TABLE deletes a managed table's dir, so put a copy back)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for suffix in suffixes:
        table_dir = os.path.join(warehouse, f"{name}{suffix}")
        shutil.copytree(table_dir, tmp_path / suffix)
        spark.sql(f"DROP TABLE {name}{suffix}")
        shutil.copytree(tmp_path / suffix, table_dir)
    write()
    assert read().count() == n
