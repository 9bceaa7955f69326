"""The three benchmark workloads.

Each workload is a closed loop with one client: ``step(i)`` runs one
batch and returns only when its output is committed, and the next step
starts after that. A workload

* ``setup()``  generates its inputs (and, for ``index_maintenance``, the
  standing indexes) from the seed;
* ``step(i)``  runs batch ``i`` and returns its timings;
* checks every result it produced against an independent reference and
  counts each operation it attempted and each one that failed or was
  wrong.

Only the package's public functions are called; everything between them
is the glue the reference job has too (a month column, a key rename).
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import Counter

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
    compact_minhash_index,
    exact_verify_pairs,
    minhash_lsh_join,
    minhash_lsh_pairs,
    read_minhash_index,
    write_minhash_index,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
    dedup_survivors,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
    append_ivf_index,
    compact_ivf_index,
    cosine_topk_ivf_indexed,
    read_ivf_index,
    write_ivf_index,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.plans.interaction import (
    interaction_features,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.plans.merge import (
    merge_feature_tables,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.plans.search import (
    search_trends,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.schemas import (
    LOG_CONTENT_SCHEMA,
    MAPPING_SCHEMA,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.sinks import write_parquet
from customer_360_etl_pipeline_on_azure_cloud_spark.sources.files import (
    read_csv_dim,
    read_json_daily,
    read_parquet_daily,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.streaming.incremental import (
    run_foreach_batch,
    stream_file_source,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.testdata_queries import (
    SQL_REFERENCE_E2E,
)

import gen

THRESHOLD_PCT = 30  # near-duplicate = 3-gram Jaccard >= 0.30
NUM_HASHES, BANDS = 32, 16  # 2 rows per band: recall ~0.99 at J = 0.5
NUM_BUCKETS = 4


class Workload:
    """Shared bookkeeping: operation counts and the per-step record."""

    name = ""

    def __init__(self, spark, seed: int, root: str, tracer):
        self.spark = spark
        self.seed = seed
        self.root = root
        self.tr = tracer
        self.attempted = 0
        self.failed = 0
        self._wrong = False
        self.input_hashes: dict[str, str] = {}
        self.extra: dict[str, list[float]] = {}

    def rng(self, *stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *stream])

    def op(self, what: str, fn):
        """Run one operation and its checks; count it, and count it failed
        once if it raises or any check calls :meth:`wrong`."""
        self.attempted += 1
        self._wrong = False
        try:
            out = fn()
        except Exception:
            self.failed += 1
            print(f"[{self.name}] {what} failed:", file=sys.stderr)
            traceback.print_exc()
            return None
        self.failed += self._wrong
        return out

    def wrong(self, what: str) -> None:
        """Mark the running operation as having returned a wrong result."""
        self._wrong = True
        print(f"[{self.name}] wrong result: {what}", file=sys.stderr)

    def note(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)

    def run_step(self, i: int) -> dict | None:
        return self.op(f"batch {i}", lambda: self.step(i))

    def force(self, df):
        """In a traced run, end a lazy layer at its boundary, so each span
        holds its own work; untraced runs keep the plan whole."""
        return df.localCheckpoint(eager=True) if self.tr.enabled else df


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def _read_parquet(path: str, columns: str) -> list[tuple]:
    """Read a sink back with DuckDB, independently of Spark."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.sql(
            f"SELECT {columns} FROM read_parquet('{path}/*.parquet')"
        ).fetchall()
    finally:
        con.close()


# --- c360_daily --------------------------------------------------------------


def _replace_cte(sql: str, start: str, end: str, body: str) -> str:
    i, j = sql.index(start), sql.index(end)
    return sql[:i] + start + body + sql[j:]


class C360Daily(Workload):
    """The reference's own daily job over 30 days of raw files.

    135k log_content rows (21 MB of JSON) and 108k log_search rows. A
    1.8M-row (201 MB) input takes about 40 s cold and 18 s per warm batch
    on a 4-core host, which would put one run near 80 s; three workloads
    of 22 runs each must fit in 3420 s, so this has about a thirteenth
    of those rows.
    """

    name = "c360_daily"
    CONTRACTS, ROWS_PER_DAY, SEARCHES_PER_DAY, KEYWORDS = 9000, 4500, 4500, 900

    def setup(self) -> None:
        self.inputs = gen.gen_c360(
            self.rng(0), os.path.join(self.root, "inputs"), self.CONTRACTS,
            self.ROWS_PER_DAY, self.SEARCHES_PER_DAY, self.KEYWORDS,
        )
        self.sink = os.path.join(self.root, "sink")

    def prepare_check(self) -> None:
        import duckdb

        self.input_hashes = {k: gen.content_hash(v) for k, v in self.inputs.items()}
        lc, ls, mp = (self.inputs[k] for k in ("log_content", "log_search", "mapping"))
        sql = _replace_cte(SQL_REFERENCE_E2E, "WITH lc AS (", "), devices AS (", f"""
  SELECT _source.Contract AS contract, _source.Mac AS mac,
         _source.AppName AS appname, _source.TotalDuration AS dur,
         CAST(strptime(regexp_extract(filename, '(\\d{{8}})\\.json$', 1),
                       '%Y%m%d') AS DATE) AS d
  FROM read_json('{lc}/*.json', format='newline_delimited', filename=true,
    columns={{'_source': 'STRUCT(Contract VARCHAR, Mac VARCHAR,
                                  AppName VARCHAR, TotalDuration BIGINT)'}})
""")
        sql = _replace_cte(sql, "), clean AS (", "), top AS (", f"""
  SELECT * FROM (
    SELECT month(CAST(CAST(datetime AS TIMESTAMP) AS DATE)) AS month,
           user_id, keyword
    FROM read_parquet('{ls}/*/*.parquet')
  ) WHERE user_id IS NOT NULL AND keyword IS NOT NULL AND month IN (6, 7)
""")
        sql = _replace_cte(sql, "), mapping AS (", "), s AS (", f"""
  SELECT search, MIN(category) AS category
  FROM read_csv('{mp}', header=true,
                columns={{'search': 'VARCHAR', 'category': 'VARCHAR'}})
  GROUP BY search
""")
        con = duckdb.connect()
        try:
            res = con.sql(sql)
            self.columns = res.columns
            self.expected = Counter(res.fetchall())
        finally:
            con.close()

    def step(self, i: int) -> dict:
        tid = f"{self.name}/{i}"
        batch_s, _ = _timed(lambda: self._batch(tid))
        rows = _read_parquet(self.sink, ", ".join(f'"{c}"' for c in self.columns))
        got = Counter(rows)
        matched = sum((got & self.expected).values())
        quality = matched / max(sum(got.values()), sum(self.expected.values()))
        if got != self.expected:
            self.wrong(f"batch {i}: {matched} of {len(rows)} sink rows match DuckDB")
        return {"batch_s": batch_s, "quality": quality}

    def _batch(self, tid: str) -> None:
        spark, span, force = self.spark, self.tr.span, self.force
        with span("sources.read_json_daily", tid):
            lc = force(read_json_daily(
                spark, self.inputs["log_content"], 20220401, 20220430,
                schema=LOG_CONTENT_SCHEMA, flatten_struct="_source",
            ))
        with span("sources.read_parquet_daily", tid):
            ls = force(read_parquet_daily(
                spark, self.inputs["log_search"], 20220501, 20220831
            ))
        with span("sources.read_csv_dim", tid):
            mapping = force(read_csv_dim(
                spark, self.inputs["mapping"], key="search", schema=MAPPING_SCHEMA
            ))
        ls = ls.select(
            F.month(F.to_date("datetime")).alias("month"), "user_id", "keyword"
        )
        with span("plans.interaction_features", tid):
            feats = force(interaction_features(lc))
        with span("plans.search_trends", tid):
            trends = force(search_trends(ls, mapping))
        trends = trends.withColumn(
            "Contract", F.concat(F.lit("CT"), F.lpad("user_id", 6, "0"))
        ).drop("user_id")
        with span("plans.merge_feature_tables", tid):
            merged = force(merge_feature_tables(feats, trends, on="Contract"))
        with span("sinks.write_parquet", tid):
            write_parquet(merged, self.sink)


# --- corpus_dedup ------------------------------------------------------------


class CorpusDedup(Workload):
    """Batch curation: candidate pairs, exact verification, survivors.

    The chain clusters fix the number of graph rounds, and those rounds,
    not the corpus size, set most of a batch's cost; the corpus is as
    large as the time budget of one run allows.
    """

    name = "corpus_dedup"
    N_BASE, CLUSTER_SHARE = 600, 0.3

    def setup(self) -> None:
        self.docs, self.planted = gen.gen_corpus(
            self.rng(0), self.N_BASE, self.CLUSTER_SHARE, THRESHOLD_PCT
        )
        self.corpus_dir = os.path.join(self.root, "inputs", "corpus")
        os.makedirs(self.corpus_dir)
        ids = np.arange(len(self.docs))
        for part in range(4):
            sel = ids[part::4]
            gen.write_parquet_file(
                gen.docs_table(sel, [self.docs[j] for j in sel]),
                os.path.join(self.corpus_dir, f"part-{part}.parquet"),
            )
        self.sink = os.path.join(self.root, "survivors")

    def prepare_check(self) -> None:
        self.input_hashes = {"corpus": gen.content_hash(self.corpus_dir)}
        self._sh: dict[int, set] = {}

    def shingles(self, doc_id: int) -> set:
        if doc_id not in self._sh:
            self._sh[doc_id] = gen.shingles(self.docs[doc_id])
        return self._sh[doc_id]

    def step(self, i: int) -> dict:
        tid = f"{self.name}/{i}"
        batch_s, (cand, ver) = _timed(lambda: self._batch(tid))
        rows = _read_parquet(self.sink, "id, component, is_survivor")
        n_cand = cand.count()
        pairs = ver.collect()
        found = set()
        for r in pairs:
            inter, uni = gen.jaccard(self.shingles(r.id_a), self.shingles(r.id_b))
            if (r.inter, r.uni) != (inter, uni) or inter * 100 < uni * THRESHOLD_PCT:
                self.wrong(f"batch {i}: pair ({r.id_a}, {r.id_b}) is not a near-dup")
            found.add((r.id_a, r.id_b))
        recall = len(found.intersection(self.planted)) / len(self.planted)
        expect = _components(len(self.docs), found)
        got = {d: (c, keep) for d, c, keep in rows}
        if got != {d: (c, d == c) for d, c in enumerate(expect)}:
            self.wrong(f"batch {i}: survivor table differs from union-find")
        self.note("candidate_yield", len(pairs) / max(n_cand, 1))
        return {"batch_s": batch_s, "quality": recall}

    def _batch(self, tid: str):
        span = self.tr.span
        corpus = self.spark.read.parquet(self.corpus_dir)
        with span("operators.dedup.minhash_lsh_pairs", tid):
            cand = minhash_lsh_pairs(
                corpus, num_hashes=NUM_HASHES, bands=BANDS,
                verify_threshold_pct=None, exact=True,
            )
        with span("operators.dedup.exact_verify_pairs", tid):
            ver = exact_verify_pairs(corpus, cand, threshold_pct=THRESHOLD_PCT)
        with span("operators.graph.dedup_survivors", tid):
            surv = self.force(dedup_survivors(ver, corpus.select("doc_id")))
        with span("sinks.write_parquet", tid):
            write_parquet(surv, self.sink)
        return cand, ver


def _components(n: int, edges) -> list[int]:
    """Union-find labels: the minimum id of each vertex's component."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [find(x) for x in range(n)]


# --- index_maintenance -------------------------------------------------------

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


INDEX_TABLES = ("mh_sig", "mh_bands", "ivf_cells")

# ``run_foreach_batch`` runs its batch function in the stream's cloned
# session, and the caller's session keeps its cached file listing of the
# index tables: it does not see the rows that batch appended, and a
# compaction run from it rewrites the stale listing and drops them. A
# caller has to refresh the tables after each ingest. With this True the
# workload does so, which hides the loss from the row checks; the
# number of rows the caller's session misses before the refresh is
# recorded as ``index.unseen_append_rows`` either way. Set it False to
# see the loss counted as failed compactions.
REFRESH_AFTER_STREAM_APPEND = True


class IndexMaintenance(Workload):
    """Daily appends, probes and compaction on two standing indexes."""

    name = "index_maintenance"
    N_BASE, DIM, CENTERS = 1000, 32, 24
    ARRIVALS, QUERIES, K, NPROBE = 40, 32, 10, 4

    def setup(self) -> None:
        rng = self.rng(0)
        # No planted clusters, and near copies (arrivals, queries) are
        # drawn from this standing corpus only: every true near-duplicate
        # pair then has Jaccard >= 0.4 and every other pair ~0, so the
        # probe's signature-level verification, an estimate, has no pairs
        # near its threshold and its hits can be checked exactly.
        docs, _ = gen.gen_corpus(rng, self.N_BASE, 0.0, THRESHOLD_PCT)
        self.centers = rng.standard_normal((self.CENTERS, self.DIM))
        self.docs = docs
        self.n_standing = len(docs)
        self.vecs = gen.gen_vectors(rng, self.centers, len(docs))
        corpus_dir = os.path.join(self.root, "inputs", "corpus")
        os.makedirs(corpus_dir)
        gen.write_parquet_file(
            gen.docs_table(np.arange(len(docs)), docs, self.vecs),
            os.path.join(corpus_dir, "part-0.parquet"),
        )
        self.landing = os.path.join(self.root, "landing")
        self.queries = os.path.join(self.root, "queries")
        os.makedirs(self.landing)
        os.makedirs(self.queries)
        self.ckpt = os.path.join(self.root, "checkpoint")
        corpus = self.spark.read.parquet(corpus_dir)
        write_minhash_index(corpus, "mh", num_hashes=NUM_HASHES, bands=BANDS,
                            num_buckets=NUM_BUCKETS)
        write_ivf_index(corpus, "ivf", num_buckets=NUM_BUCKETS,
                        id_col="doc_id", vec_col="embedding")
        self.corpus_dir = corpus_dir

    def prepare_check(self) -> None:
        self.input_hashes = {"corpus": gen.content_hash(self.corpus_dir)}

    def _land(self, day: int):
        """Write day ``day``'s arrivals and query batch; both are a pure
        function of (seed, day)."""
        rng = self.rng(1, day)
        n_near = self.ARRIVALS // 3
        standing = self.docs[:self.n_standing]
        toks = gen.near_copies(rng, standing, n_near) + gen.random_docs(
            rng, self.ARRIVALS - n_near, 30, 60)
        vecs = gen.gen_vectors(rng, self.centers, self.ARRIVALS)
        ids = len(self.docs) + np.arange(self.ARRIVALS)
        gen.write_parquet_file(gen.docs_table(ids, toks, vecs),
                               os.path.join(self.landing, f"day-{day:04d}.parquet"))
        half = self.QUERIES // 2
        qtoks = gen.near_copies(rng, standing, half) + gen.random_docs(
            rng, self.QUERIES - half, 30, 60)
        src = rng.integers(0, len(self.vecs), half)
        qvecs = np.concatenate([
            self.vecs[src] + 0.1 * rng.standard_normal((half, self.DIM)),
            gen.gen_vectors(rng, self.centers, self.QUERIES - half),
        ]).astype(np.float32)
        qids = 10**9 + day * self.QUERIES + np.arange(self.QUERIES)
        qpath = os.path.join(self.queries, f"day-{day:04d}.parquet")
        gen.write_parquet_file(gen.docs_table(qids, qtoks, qvecs), qpath)
        return toks, vecs, qids, qtoks, qvecs, qpath

    def run_step(self, i: int) -> dict | None:
        """One day: ingest, probe, compaction; three operations."""
        tid = f"{self.name}/{i}"
        toks, vecs, qids, qtoks, qvecs, qpath = self._land(i)
        ingest_s = self.op(f"day {i} ingest",
                           lambda: self._ingest(tid, toks, vecs))
        if ingest_s is None:
            return None
        probe = self.op(f"day {i} probe",
                        lambda: self._probe(i, tid, qpath, qids, qtoks, qvecs))
        if probe is None:
            return None
        probe_s, quality = probe
        self.note("files_per_bucket", self._files_per_bucket())
        compact_s = self.op(f"day {i} compaction",
                            lambda: self._compact(i, tid))
        if compact_s is None:
            return None
        self.note("ingest_s", ingest_s)
        self.note("probe_s", probe_s)
        self.note("compact_s", compact_s)
        return {"batch_s": ingest_s + probe_s + compact_s, "quality": quality}

    def _ingest(self, tid: str, toks: list, vecs: np.ndarray) -> float:
        span = self.tr.span

        def append(batch_df, _batch_id):
            with span("operators.dedup.write_minhash_index_append", tid):
                write_minhash_index(batch_df, "mh", num_hashes=NUM_HASHES,
                                    bands=BANDS, num_buckets=NUM_BUCKETS,
                                    mode="append")
            with span("operators.similarity.append_ivf_index", tid):
                append_ivf_index(batch_df, "ivf", id_col="doc_id",
                                 vec_col="embedding")

        t = time.perf_counter()
        with span("streaming.run_foreach_batch", tid):
            stream = stream_file_source(self.spark, self.landing, DOC_SCHEMA)
            run_foreach_batch(stream, self.ckpt, append)
        elapsed = time.perf_counter() - t
        self.docs = self.docs + toks
        self.vecs = np.concatenate([self.vecs, vecs])
        self.note("unseen_append_rows",
                  len(self.docs) - self.spark.table("mh_sig").count())
        if REFRESH_AFTER_STREAM_APPEND:
            t = time.perf_counter()
            for table in INDEX_TABLES:
                self.spark.catalog.refreshTable(table)
            elapsed += time.perf_counter() - t
        return elapsed

    def _probe(self, day, tid, qpath, qids, qtoks, qvecs) -> tuple[float, float]:
        span = self.tr.span
        t = time.perf_counter()
        queries = self.spark.read.parquet(qpath)
        with span("operators.similarity.cosine_topk_ivf_indexed", tid):
            top = cosine_topk_ivf_indexed(
                read_ivf_index(self.spark, "ivf"), queries, k=self.K,
                nprobe=self.NPROBE, id_col="doc_id", vec_col="embedding",
                exclude_self=False,
            ).collect()
        with span("operators.dedup.minhash_lsh_join", tid):
            hits = minhash_lsh_join(
                queries, read_minhash_index(self.spark, "mh"),
                verify_threshold_pct=THRESHOLD_PCT,
            ).collect()
        elapsed = time.perf_counter() - t
        return elapsed, self._check_probe(day, qids, qtoks, qvecs, top, hits)

    def _compact(self, day: int, tid: str) -> float:
        span = self.tr.span
        t = time.perf_counter()
        with span("operators.dedup.compact_minhash_index", tid):
            compact_minhash_index(self.spark, "mh")
        with span("operators.similarity.compact_ivf_index", tid):
            compact_ivf_index(self.spark, "ivf")
        elapsed = time.perf_counter() - t
        self._check_compacted(day)
        return elapsed

    def _files_per_bucket(self) -> float:
        files = sum(len(self.spark.table(t).inputFiles()) for t in INDEX_TABLES)
        return files / (len(INDEX_TABLES) * NUM_BUCKETS)

    def _check_probe(self, day, qids, qtoks, qvecs, top, hits) -> float:
        """IVF: ranks 1..k, real ids, cosine non-increasing by rank;
        returns recall@k against brute force. MinHash: every hit is an
        exact near-duplicate."""
        n = len(self.docs)
        unit = self.vecs.astype(np.float64)
        unit /= np.linalg.norm(unit, axis=1, keepdims=True)
        q = qvecs.astype(np.float64)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        cos = q @ unit.T
        exact = np.argpartition(-cos, self.K, axis=1)[:, :self.K]
        by_q: dict[int, list] = {}
        for r in top:
            by_q.setdefault(r.query_id, []).append((r.rk, r.neighbor_id))
        hit = 0
        for j, qid in enumerate(qids.tolist()):
            res = sorted(by_q.get(qid, []))
            ranks = [rk for rk, _ in res]
            nb = [nid for _, nid in res]
            if ranks != list(range(1, len(res) + 1)) or not 0 < len(res) <= self.K \
                    or any(not 0 <= x < n for x in nb):
                self.wrong(f"day {day}: malformed top-k for query {qid}")
                continue
            c = cos[j, nb]
            if np.any(np.diff(c) > 1e-9):
                self.wrong(f"day {day}: top-k for query {qid} not ranked by cosine")
            hit += len(set(nb) & set(exact[j].tolist()))
        qsh = {qid: gen.shingles(t) for qid, t in zip(qids.tolist(), qtoks)}
        for r in hits:
            if not 0 <= r.corpus_id < n:
                self.wrong(f"day {day}: MinHash hit on unknown doc {r.corpus_id}")
                continue
            inter, uni = gen.jaccard(qsh[r.new_id],
                                     gen.shingles(self.docs[r.corpus_id]))
            if inter * 100 < uni * THRESHOLD_PCT:
                self.wrong(f"day {day}: MinHash hit ({r.new_id}, {r.corpus_id}) "
                           "is not a near-dup")
        return hit / (self.K * len(qids))

    def _check_compacted(self, day: int) -> None:
        n = len(self.docs)
        for t in ("mh_sig", "ivf_cells"):
            rows = self.spark.table(t).count()
            files = len(self.spark.table(t).inputFiles())
            if rows != n or files > NUM_BUCKETS:
                self.wrong(f"day {day}: {t} holds {rows} rows in {files} files "
                           f"after compaction, expected {n} rows")



WORKLOADS = {w.name: w for w in (C360Daily, CorpusDedup, IndexMaintenance)}
