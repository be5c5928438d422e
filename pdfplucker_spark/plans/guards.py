"""Guarded candidate joins: the one kernel behind every LSH band, shingle,
fingerprint and cluster-blocking pair join.

A candidate join's cost is sum(occupancy^2) over its keys. On honest
corpora occupancy tracks near-dup cluster size (BENCH/PLANS.md capacity
math), but a degenerate corpus — boilerplate-heavy crawl, constant column —
collapses into a few giant keys and the within-key join goes quadratic. A
key that common carries no similarity signal (everything matches
everything), so the scale-correct move is to drop it, loudly, before the
join. Three shapes cover the operators: ``guarded_self_join``,
``guarded_probe`` (probe rows vs a standing index) and
``guarded_prefix_join`` (rarest-first PPJoin prefixes). All of them hold:

- the guard counts occupancy on the join's OWN key;
- over-cap keys leave by broadcast LEFT ANTI join against the dropped set,
  bounded by construction (at most sum(occ)/cap keys exceed the cap) —
  never by an inner join against the corpus-scale surviving set. Only the
  prefix shape joins its counts back, because its rank needs each key's
  document frequency;
- NULL keys never equi-join: NULL-keyed rows pass the guard and are not
  counted as dropped — exact because every join here is an equi-join on
  the key.

Drops are counted and logged — silence would read as full recall when it
isn't. ``cap=None`` disables the drop.
"""

from __future__ import annotations

import logging
from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F

log = logging.getLogger(__name__)

# Never fires on the driver corpora (max observed band-key occupancy at
# sf0.1 is ~3 orders of magnitude below); at 10^9 rows the r/T scaling knobs
# (similarity.py docstring, BENCH/PLANS.md) keep honest buckets far under it.
DEFAULT_BUCKET_CAP = 100_000


def _log_drops(over_cap: DataFrame, cols: list[str], cap: int, log_label: str) -> None:
    n_dropped = over_cap.dropna(subset=cols).count()  # a NULL key is no drop
    if n_dropped:
        log.warning(
            "%s: dropped %d over-capacity buckets (cap=%d) — "
            "non-discriminative keys excluded from the candidate join",
            log_label,
            n_dropped,
            cap,
        )


def _drop_oversized_buckets(
    keys: DataFrame,
    key_cols: list[str],
    cap: int | None,
    log_label: str,
    counted: DataFrame | None = None,
) -> DataFrame:
    """``keys`` minus the rows whose key occupancy in ``counted`` (default
    ``keys``) exceeds ``cap``. The over-cap set is persisted: the log count
    and the broadcast share one aggregation."""
    if cap is None:
        return keys
    dropped = (
        (keys if counted is None else counted)
        .groupBy(*key_cols)
        .agg(F.count("*").alias("_occ"))
        .where(F.col("_occ") > cap)
        .persist()
    )
    _log_drops(dropped, key_cols, cap, log_label)
    return keys.join(F.broadcast(dropped.select(*key_cols)), key_cols, "left_anti")


def _pair(id_col: str, asymmetric: bool):
    """Each unordered pair once, or both orders for a directional measure."""
    a, b = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    return a != b if asymmetric else a < b


def guarded_self_join(
    keys: DataFrame,
    key_cols: tuple[str, ...],
    id_col: str,
    cap: int | None,
    log_label: str,
    asymmetric: bool = False,
) -> DataFrame:
    """``keys`` guarded and joined to itself on ``key_cols`` under
    ``a.id < b.id`` (``!=`` if ``asymmetric``), sides aliased ``a`` and
    ``b``; a pair appears once per shared key, so callers dedupe or count.
    ``keys`` is persisted here (count and both sides read it)."""
    cols = list(key_cols)
    g = _drop_oversized_buckets(keys.persist(), cols, cap, log_label)
    a, b = g.alias("a"), g.alias("b")
    on = reduce(lambda x, y: x & y, (F.col(f"a.{c}") == F.col(f"b.{c}") for c in cols))
    return a.join(b, on & _pair(id_col, asymmetric))


def guarded_probe(
    index: DataFrame,
    key_cols: tuple[str, ...],
    cap: int | None,
    log_label: str,
    counted: DataFrame | None = None,
):
    """Guard a standing ``index`` once; returns ``probe -> probe ⋈ index``
    on ``key_cols``, so every wave of a stream shares the one guard.
    ``counted`` widens the occupancy count when probe and index are slices
    of one capped frame; dropping from the index side alone is then exact,
    as probe rows only meet the index through the equi-join. ``index`` is
    not persisted: every caller's is a file scan or a slice of a frame the
    caller persists for its probe side."""
    cols = list(key_cols)
    ix = _drop_oversized_buckets(index, cols, cap, log_label, counted)
    return lambda probe: probe.join(ix, cols)


def guarded_prefix_join(
    ex: DataFrame,
    key: str,
    id_col: str,
    threshold: float,
    cap: int | None,
    log_label: str,
    asymmetric: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Rarest-first PPJoin prefix join over ``ex`` = (``id_col``, ``key``,
    ``sz``): one row per document per DISTINCT key, so a key's row count
    is its document frequency, and ``sz`` the document's full key count.
    A document's prefix is its keys ranked by (df, key) ascending with
    ``r <= sz - ceil(threshold * sz) + 1``; ranking only surviving keys
    while bounding with the full ``sz`` only lengthens it, so the filter
    stays lossless under the cap. Symmetric measures join prefix to prefix
    under ``a < b``; ``asymmetric`` containment joins A's prefix to B's
    whole guarded index under ``a != b``.

    Returns ``(joined, index)``: ``joined`` has aliases ``a`` (``id_col``,
    ``key``, ``r``, ``sz``) and ``b``; ``index`` is the guarded
    (``id_col``, ``key``) frame for an exact verify. ``ex`` and the ``b``
    side (the prefix itself when symmetric) are persisted here."""
    ex = ex.persist()
    occ = ex.groupBy(key).agg(F.count("*").alias("_occ")).persist()
    if cap is not None:
        _log_drops(occ.where(F.col("_occ") > cap), [key], cap, log_label)
        occ = occ.where(F.col("_occ") <= cap)
    guarded = ex.join(occ, key)
    prefix = (
        guarded.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.asc("_occ"), F.asc(key))
            ),
        )
        .where(F.col("r") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select(id_col, key, "r", "sz")
    )
    index = guarded.select(id_col, key)
    if asymmetric:
        index = b = index.persist()
    else:
        prefix = b = prefix.persist()
    joined = prefix.alias("a").join(b.alias("b"), key).where(_pair(id_col, asymmetric))
    return joined, index
