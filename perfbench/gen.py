"""Seeded, vectorized input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes plain files; the package under test only ever sees
those files. The same seed gives byte-identical files, which
:func:`content_hash` records in the run artifact.
"""

from __future__ import annotations

import csv
import hashlib
import os
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- c360_daily: log_content / log_search / mapping (FIXTURES.md A) --------

APP_NAMES = ("CHANNEL", "DSHD", "KPLUS", "VOD", "FIMS", "SPORT", "RELAX", "CHILD")
UNKNOWN_APPS = ("MYTV", "HBO")
CATEGORIES = ("sports", "movies", "music", "news", "kids")
CONTENT_START = date(2022, 4, 1)
CONTENT_DAYS = 30
# log_search day folders straddle months 5..8 so the month-in-(6, 7)
# filter drops rows; 6 and 7 carry most of the volume.
SEARCH_DAYS = (
    [date(2022, 5, 30), date(2022, 5, 31)]
    + [date(2022, 6, d) for d in range(1, 11)]
    + [date(2022, 7, d) for d in range(1, 11)]
    + [date(2022, 8, 1), date(2022, 8, 2)]
)


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def gen_c360(rng: np.random.Generator, root: str, contracts: int,
             rows_per_day: int, searches_per_day: int,
             keywords: int) -> dict[str, str]:
    """Write ``log_content/YYYYMMDD.json`` (30 days), ``log_search/YYYYMMDD/``
    parquet folders and ``mapping.csv`` under ``root``; return their paths.

    Contracts are Zipf-skewed, so heavy contracts are active every day and
    the tail on a few days (all five Activeness buckets). About 2% of rows
    carry the sentinel contract ``'0'`` and 3% an unknown AppName. Search
    rows hold NULL users and keywords, padded keywords, and per-user count
    ties; the mapping CSV repeats some keys and leaves others unmapped.
    """
    lc_dir = os.path.join(root, "log_content")
    ls_dir = os.path.join(root, "log_search")
    os.makedirs(lc_dir)
    os.makedirs(ls_dir)

    ids = np.array([f"CT{i:06d}" for i in range(1, contracts + 1)])
    perm = rng.permutation(contracts)
    p_contract = _zipf_p(contracts, 1.1)[perm]
    n_macs = rng.integers(1, 5, contracts)
    apps = np.array(APP_NAMES + UNKNOWN_APPS)
    p_app = np.array([0.2, 0.08, 0.07, 0.15, 0.1, 0.12, 0.1, 0.15, 0.02, 0.01])
    p_app = p_app / p_app.sum()
    for d in range(CONTENT_DAYS):
        day = CONTENT_START + timedelta(days=d)
        n = rows_per_day
        c = rng.choice(contracts, n, p=p_contract)
        contract = ids[c]
        contract[rng.random(n) < 0.02] = "0"
        mac = (rng.random(n) * n_macs[c]).astype(np.int64)
        app = apps[rng.choice(len(apps), n, p=p_app)]
        dur = rng.lognormal(6.0, 1.2, n).astype(np.int64)
        base = rng.integers(0, 1 << 40)
        lines = [
            '{"_index":"history","_type":"kplus","_id":"%x","_score":0,'
            '"_source":{"Contract":"%s","Mac":"%s%04X","TotalDuration":%d,'
            '"AppName":"%s"}}' % (base + i, ct, "0C96E6", ci * 4 + m, du, ap)
            for i, (ct, ci, m, du, ap) in enumerate(
                zip(contract.tolist(), c.tolist(), mac.tolist(),
                    dur.tolist(), app.tolist())
            )
        ]
        if d == 0:
            # a MostWatch tie and a single-category CustomerTaste contract
            lines.append('{"_source":{"Contract":"CT999998","Mac":"T1",'
                         '"TotalDuration":500,"AppName":"CHANNEL"}}')
            lines.append('{"_source":{"Contract":"CT999998","Mac":"T1",'
                         '"TotalDuration":500,"AppName":"VOD"}}')
            lines.append('{"_source":{"Contract":"CT999999","Mac":"T2",'
                         '"TotalDuration":42,"AppName":"SPORT"}}')
        with open(os.path.join(lc_dir, day.strftime("%Y%m%d") + ".json"),
                  "w") as f:
            f.write("\n".join(lines) + "\n")

    kw = np.array([f"kw{i:04d}" for i in range(keywords)])
    p_kw = _zipf_p(keywords, 0.9)[rng.permutation(keywords)]
    users = np.array([str(i) for i in range(1, int(contracts * 1.2) + 1)])
    p_user = _zipf_p(len(users), 0.8)[rng.permutation(len(users))]
    schema = pa.schema([("datetime", pa.string()), ("user_id", pa.string()),
                        ("keyword", pa.string())])
    for day in SEARCH_DAYS:
        n = searches_per_day
        secs = np.sort(rng.integers(0, 86400, n))
        stamp = day.strftime("%Y-%m-%d")
        dt = [f"{stamp} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"
              for s in secs.tolist()]
        u = users[rng.choice(len(users), n, p=p_user)].astype(object)
        u[rng.random(n) < 0.01] = None
        k = kw[rng.choice(keywords, n, p=p_kw)].astype(object)
        pad = rng.random(n)
        k[pad < 0.03] = [" " + x for x in k[pad < 0.03]]
        k[(pad >= 0.03) & (pad < 0.05)] = [
            x + "  " for x in k[(pad >= 0.03) & (pad < 0.05)]
        ]
        k[rng.random(n) < 0.01] = None
        folder = os.path.join(ls_dir, day.strftime("%Y%m%d"))
        os.makedirs(folder)
        pq.write_table(
            pa.table([dt, u.tolist(), k.tolist()], schema=schema),
            os.path.join(folder, "part-00000.parquet"),
        )

    mapped = rng.random(keywords) < 0.85
    cat = rng.integers(0, len(CATEGORIES), keywords)
    rows = [(kw[i], CATEGORIES[cat[i]]) for i in np.flatnonzero(mapped)]
    dups = [(kw[i], CATEGORIES[(cat[i] + 1) % len(CATEGORIES)])
            for i in np.flatnonzero(mapped & (rng.random(keywords) < 0.1))]
    rows = rows + dups
    order = rng.permutation(len(rows))
    mapping = os.path.join(root, "mapping.csv")
    with open(mapping, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["search", "category"])
        w.writerows(rows[i] for i in order)
    return {"log_content": lc_dir, "log_search": ls_dir, "mapping": mapping}


# --- corpus_dedup / index_maintenance: documents with planted near-dups ----

VOCAB = 20000
SHINGLE_N = 3


def random_docs(rng: np.random.Generator, n: int, lo: int, hi: int):
    lens = rng.integers(lo, hi + 1, n)
    return [rng.integers(0, VOCAB, m) for m in lens.tolist()]


def _edit(rng: np.random.Generator, toks: np.ndarray, edits: int) -> np.ndarray:
    out = toks.copy()
    pos = rng.choice(len(out), edits, replace=False)
    out[pos] = rng.integers(0, VOCAB, edits)
    return out


def shingles(toks) -> set:
    """Distinct word 3-gram set of a token array (the package's
    ``word_shingles`` over the space-joined text)."""
    t = toks.tolist() if hasattr(toks, "tolist") else list(toks)
    return {tuple(t[i:i + SHINGLE_N]) for i in range(len(t) - SHINGLE_N + 1)}


def jaccard(a: set, b: set) -> tuple[int, int]:
    """(intersection, union) sizes, so callers compare with integers."""
    inter = len(a & b)
    return inter, len(a) + len(b) - inter


def text_of(toks) -> str:
    return " ".join(f"w{t}" for t in toks.tolist())


def gen_corpus(rng: np.random.Generator, n_base: int, cluster_share: float,
               threshold_pct: int) -> tuple[list, list[tuple[int, int]]]:
    """A document corpus with planted near-duplicate clusters.

    Returns ``(docs, planted)``: ``docs`` is a list of token arrays indexed
    by doc id (ids are shuffled, so cluster members are not adjacent), and
    ``planted`` the sorted ``(id_a, id_b)`` pairs inside a cluster whose
    exact 3-gram Jaccard is at least ``threshold_pct`` percent.

    Two cluster shapes: stars (a base and 1-3 light edits of it) and
    chains (each member ~11% of its 3-grams away from the previous), whose far ends fall
    below the threshold, so the pair graph has long paths. Each chain's
    smallest id sits at its head, so min-label propagation walks its full
    length. Cluster counts and sizes depend only on ``n_base`` and
    ``cluster_share``, so every seed asks for the same amount of work.
    """
    base = random_docs(rng, n_base, 30, 60)
    n_clusters = int(n_base * cluster_share)
    heads = rng.choice(n_base, n_clusters, replace=False)
    docs = list(base)
    groups = []
    for k, b in enumerate(heads.tolist()):
        if k % 5 < 3:
            extra = [_edit(rng, base[b], int(rng.integers(0, 4)))
                     for _ in range(1 + k % 3)]
        else:
            extra = [base[b]]
            for _ in range(3 + k % 3):
                # ~11% of the 3-grams per step: neighbours stay above a
                # Jaccard of 0.45, members two steps apart fall below 0.25
                step = max(3, round(0.113 * (len(extra[-1]) - 2)))
                extra.append(_edit(rng, extra[-1], step))
            extra = extra[1:]
        members = [b] + list(range(len(docs), len(docs) + len(extra)))
        groups.append((k % 5 >= 3, members))
        docs.extend(extra)
    perm = rng.permutation(len(docs))  # old index -> new doc id
    for is_chain, g in groups:
        if is_chain:
            ids = sorted(perm[g].tolist())
            perm[g] = ids
    out = [None] * len(docs)
    for old, new in enumerate(perm.tolist()):
        out[new] = docs[old]
    planted = []
    for _, g in groups:
        ids = [int(perm[i]) for i in g]
        sh = [shingles(out[i]) for i in ids]
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                inter, uni = jaccard(sh[x], sh[y])
                if inter * 100 >= uni * threshold_pct:
                    planted.append(tuple(sorted((ids[x], ids[y]))))
    return out, sorted(planted)


def near_copies(rng: np.random.Generator, docs: list, n: int) -> list:
    """``n`` light edits of random existing docs (probe/arrival near-dups)."""
    src = rng.integers(0, len(docs), n)
    return [_edit(rng, docs[i], int(rng.integers(1, 4))) for i in src.tolist()]


def gen_vectors(rng: np.random.Generator, centers: np.ndarray, n: int,
                spread: float = 0.35) -> np.ndarray:
    """``n`` float32 vectors drawn around random rows of ``centers``."""
    c = centers[rng.integers(0, len(centers), n)]
    return (c + spread * rng.standard_normal(c.shape)).astype(np.float32)


def docs_table(ids, toks: list, vecs: np.ndarray | None = None) -> pa.Table:
    cols = {"doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
            "text": pa.array([text_of(t) for t in toks])}
    if vecs is not None:
        cols["embedding"] = pa.array(list(vecs), type=pa.list_(pa.float32()))
    return pa.table(cols)


def write_parquet_file(table: pa.Table, path: str) -> None:
    """Write then rename, so a watching stream never lists a partial file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.replace(tmp, path)


# --- input fingerprints ------------------------------------------------------


def content_hash(path: str) -> str:
    """sha256 over every file under ``path`` (relative names and bytes)."""
    h = hashlib.sha256()
    if os.path.isfile(path):
        files = [(os.path.basename(path), path)]
    else:
        files = sorted(
            (os.path.relpath(os.path.join(d, f), path), os.path.join(d, f))
            for d, _, fs in os.walk(path) for f in fs
        )
    for rel, full in files:
        h.update(rel.encode())
        with open(full, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
