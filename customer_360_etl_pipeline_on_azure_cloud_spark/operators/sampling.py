"""Deterministic sampling for training-data pipelines.

Corpus curation constantly downsamples — per-language rebalancing,
source mixing ratios, held-out splits. ``df.sample()`` is the wrong tool
for it at scale: its output depends on the seed AND the partitioning, so
a re-run after a repartition (or an AQE re-plan) yields a different
sample, and a row's fate can't be audited. Hash-gating fixes both: a row
is kept iff a cryptographic hash of its KEY falls under the rate
threshold — the decision is a pure function of the key, reproducible on
any cluster layout, consistent across tables sharing the key (sampling
`documents` and a features table by the same doc_id keeps them aligned),
and monotone in the rate (a 10% sample is a subset of a 20% sample, so
growing a dataset never discards previously-selected rows).

md5 (not xxhash64) deliberately: the gate must be engine-portable so the
DuckDB oracle can replay the exact selection; both engines spell
lowercase-hex md5 over the decimal string rendering of the key
identically. The comparison runs on the first ``nhex`` hex chars as
STRINGS — no integer conversion, no float rounding ambiguity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import _col

#: hex characters of the md5 digest used for gating; 8 hex = 32 bits of
#: resolution, i.e. rate granularity ~2.3e-10 — ample for any mix ratio.
_NHEX = 8


def rate_threshold(rate: float, nhex: int = _NHEX) -> str:
    """Hex-string threshold T such that P[md5_prefix < T] == rate (up to
    1/16^nhex). rate>=1 returns 'g', which every hex string sorts below."""
    if rate >= 1.0:
        return "g"
    if rate <= 0.0:
        return ""
    return format(int(rate * 16**nhex), f"0{nhex}x")


def _gate(key: Column, salt: str, nhex: int) -> Column:
    salted = (
        F.concat(key.cast("string"), F.lit(salt)) if salt else key.cast("string")
    )
    return F.substring(F.md5(salted), 1, nhex)


def deterministic_sample(
    df: DataFrame,
    key_col: str,
    rate: float,
    salt: str = "",
    nhex: int = _NHEX,
) -> DataFrame:
    """Keep each row iff md5(key || salt) falls under ``rate``. Narrow
    map + filter — no shuffle, pushes past column pruning, and the same
    (key, salt, rate) always selects the same rows. Distinct ``salt``
    values give independent samples (train/val splits: disjointness via
    complementary rate bands, not two salts)."""
    return df.filter(_gate(F.col(key_col), salt, nhex) < rate_threshold(rate, nhex))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "",
    nhex: int = _NHEX,
) -> DataFrame:
    """Per-stratum hash-gated sampling (language/source rebalancing):
    each stratum value gets its own keep-rate; unlisted strata get
    ``default_rate``. One CASE expression — still a narrow map, still
    deterministic, still cross-table consistent on the key."""
    gate = _gate(F.col(key_col), salt, nhex)
    thresh: Column = F.lit(rate_threshold(default_rate, nhex))
    for value, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(strata_col) == value, F.lit(rate_threshold(rate, nhex))
        ).otherwise(thresh)
    return df.filter(gate < thresh)


def gate_int(key: Column, salt: str = "", nhex: int = _NHEX) -> Column:
    """The md5 gate as a bigint in [0, 16^nhex) — for operators that
    compare against a COMPUTED per-row/per-group threshold (weighted or
    planned sampling) instead of a constant hex literal."""
    return F.conv(_gate(key, salt, nhex), 16, 10).cast("long")


def split_assign(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "",
    nhex: int = _NHEX,
) -> DataFrame:
    """Deterministic train/val/test assignment: partition the md5-prefix
    space into contiguous bands, one per split label, sized by
    ``fractions`` (must sum to ~1; the last label absorbs rounding).
    Adds a ``split`` column — a pure function of the key, so the same
    document lands in the same split on every cluster layout, across
    re-runs, and across any table keyed by the same id (features,
    embeddings, labels stay split-consistent). Bands (not per-split
    salts) make the splits PROVABLY disjoint and exhaustive.

    Narrow map — no shuffle; a later partitioned write by ``split`` is
    the only exchange a split materialization needs.
    """
    gate = _gate(F.col(key_col), salt, nhex)
    items = list(fractions.items())
    expr: Column = F.lit(items[-1][0])  # last band absorbs the remainder
    cum = 0.0
    bounds: list[tuple[str, str]] = []
    for label, frac in items[:-1]:
        cum += frac
        bounds.append((label, rate_threshold(cum, nhex)))
    for label, upper in reversed(bounds):
        expr = F.when(gate < upper, F.lit(label)).otherwise(expr)
    return df.withColumn("split", expr)


def split_band_sql(
    key_sql: str, fractions: dict[str, float], nhex: int = _NHEX
) -> str:
    """The DuckDB CASE expression replaying split_assign's bands — kept
    next to the operator so the two band constructions can't drift."""
    items = list(fractions.items())
    gate = f"substring(md5(CAST({key_sql} AS VARCHAR)), 1, {nhex})"
    cases, cum = [], 0.0
    for label, frac in items[:-1]:
        cum += frac
        cases.append(f"WHEN {gate} < '{rate_threshold(cum, nhex)}' THEN '{label}'")
    return "CASE " + " ".join(cases) + f" ELSE '{items[-1][0]}' END"


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str | Column,
    base_rate: float,
    salt: str = "",
    nhex: int = _NHEX,
) -> DataFrame:
    """Weight-proportional hash-gated sampling: each row is kept with
    probability ``min(1, base_rate * weight)`` — quality-weighted corpus
    mixing (keep high-quality documents at a higher rate) without any
    randomness.

    The gate compares the INTEGER value of the md5 prefix against a
    per-row integer threshold ``floor(min(1, base_rate*weight) *
    16^nhex)`` — integer comparison, so the DuckDB twin replays it
    exactly; the float product is computed with the identical expression
    tree on both engines before the single floor. Same key, same weight
    -> same fate on any layout; still monotone in ``base_rate``.
    """
    w = _col(weight_col)
    p = F.least(F.lit(1.0), F.lit(float(base_rate)) * w.cast("double"))
    thresh = F.floor(p * F.lit(float(16**nhex))).cast("long")
    return df.filter(gate_int(F.col(key_col), salt, nhex) < thresh)


def leakage_safe_split(
    edges: DataFrame,
    vertices: DataFrame,
    fractions: dict[str, float],
    salt: str = "",
    algorithm: str = "hash_min",
) -> DataFrame:
    """Train/val/test assignment that can never leak a near-duplicate
    across splits: documents are first collapsed into near-dup
    components (``edges`` = verified near-dup pairs from any of the
    dedup family's candidate generators), then the WHOLE component is
    hash-banded into a split by its component label.  A doc and its
    paraphrase land in the same split by construction — the property a
    naive per-doc split silently violates, inflating eval scores with
    memorized training twins.

    Composition of two existing scale-safe pieces: connected
    components (one shuffle per round, see operators/graph.py) and the
    band split (narrow map).  Output: ``(id, component, split)``.
    """
    from .graph import dedup_survivors

    comp = dedup_survivors(edges, vertices, algorithm=algorithm).select(
        "id", "component"
    )
    return split_assign(comp, "component", fractions, salt=salt)


def shard_manifest(
    df: DataFrame,
    key_col: str,
    epoch: int = 1,
    n_shards: int = 8,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic epoch-shuffle manifest: md5(key || "epoch{e}:")
    yields a 32-bit sort key; its residue mod ``n_shards`` is the
    shard, and rank within the shard (key order, key_col tiebreak) is
    the read position — so every epoch is a fresh, reproducible global
    permutation and a trainer streams shard s of epoch e with no
    coordination beyond (e, s).  Replaces the non-reproducible ORDER
    BY rand() global shuffle.

    Scale: key/shard are narrow in-row expressions; the only shuffle
    is the per-shard rank window — a sort of 1/n_shards of the corpus
    per shard, embarrassingly parallel across shards.  Re-manifesting
    an epoch touches only (key, carry) columns, never the payload.

    Exactness: the md5 gate is engine-portable (module docstring);
    ranks are BIGINT; ties impossible (hash collisions broken by the
    key itself).
    """
    from pyspark.sql import Window

    d = df.select(key_col, *carry_cols).withColumn(
        "__k", gate_int(F.col(key_col), salt=f"epoch{epoch}:")
    )
    w = Window.partitionBy("shard").orderBy("__k", key_col)
    return (
        d.withColumn("shard", (F.col("__k") % n_shards).cast("long"))
        .withColumn("pos_in_shard", F.row_number().over(w).cast("long"))
        .select(key_col, "shard", "pos_in_shard", *carry_cols)
    )
