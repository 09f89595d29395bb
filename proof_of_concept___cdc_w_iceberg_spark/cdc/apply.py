"""CDC apply: latest-wins compaction + MERGE-fallback upsert.

Reference semantics being reproduced (SURVEY.md §2.10):
- upsert by id-columns into the lake table
  (`connect-iceberg-sink.json:30-33`),
- per-key ordering the reference gets from a single sink task +
  Debezium LSN order (`connect-iceberg-sink.json:5`) — here made
  explicit with a (ts_ms, off) window compaction, which is what makes
  the apply safe to parallelize across many executors,
- delete handling (op='d' removes the row).

Scale notes: compaction is one shuffle on the merge keys; the apply
join shuffles target+compacted-batch on the same keys. On a real
cluster the target table would be bucketed by key so the per-batch
merge co-locates; change batches are tiny relative to the mirror, so
AQE turns the batch side into a broadcast. No Python in the path —
everything is Catalyst-planned DataFrame ops.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def compact_latest(changes: DataFrame, keys: list[str],
                   order_cols: list[str] = ("ts_ms", "off")) -> DataFrame:
    """Latest change per key: row_number over (ts desc, offset desc) = 1.

    The core CDC compaction primitive (SURVEY.md §2.5 q_win_rownumber):
    within any batch, only the newest event per key may be applied.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE fallback as a pure DataFrame rewrite (no Iceberg runtime):
    full-outer join on keys; matched rows take the source image,
    unmatched keep their side. Source NULLs are honored (presence flag,
    not per-column coalesce)."""
    data_cols = [c for c in target.columns if c not in keys]
    s = source.withColumn("__present", F.lit(True)).alias("s")
    t = target.alias("t")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
    )
    joined = t.join(s, cond, "full_outer")
    out_cols = [
        F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k) for k in keys
    ] + [
        F.when(F.col("s.__present"), F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in data_cols
    ]
    return joined.select(*out_cols)


def apply_changes(target: DataFrame, changes: DataFrame, keys: list[str],
                  op_col: str = "op",
                  order_cols: list[str] = ("ts_ms", "off")) -> DataFrame:
    """Full CDC apply: compact to latest-per-key, then
    upsert/insert/delete into the target in one pass.

    Equivalent to Iceberg ``MERGE INTO .. WHEN MATCHED AND op='d' THEN
    DELETE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT``
    (the sink's upsert mode, `connect-iceberg-sink.json:30-33`).
    Implemented as: drop every touched key from the target (anti join),
    then append the surviving latest images.
    """
    return upsert_compacted(target, compact_latest(changes, keys, order_cols),
                            keys, op_col=op_col)


def upsert_compacted(target: DataFrame, latest: DataFrame, keys: list[str],
                     op_col: str = "op",
                     routed: DataFrame | None = None) -> DataFrame:
    """The merge half of ``apply_changes`` over an ALREADY-compacted
    (one row per key) batch. Mirror apply paths hold the compacted
    batch as a persisted ``PreparedBatch`` and call this directly, so
    the batch's window shuffle runs once, not re-planned inside every
    merge.

    ``routed``: an optional re-layout of the SAME batch rows (e.g.
    repartitioned by bucket for the staged write). Only the appended
    upsert images are drawn from it; the anti-join's broadcast side
    stays on ``latest`` so building the broadcast never executes the
    routing exchange. With ``routed`` the anti-join's batch side is
    broadcast EXPLICITLY: the staged-write callers rely on survivors
    never shuffling, and a batch above the broadcast threshold would
    otherwise degrade to a sort-merge join that shuffles the full
    survivor leg. Those callers pass a persisted ``PreparedBatch``, so
    the broadcast is of a bounded, already-materialized relation.
    Without ``routed`` (the generic ``apply_changes`` path, where no
    caller has bounded the batch) the planner keeps the choice."""
    touched = latest.select(*[F.col(k).alias(f"__t_{k}") for k in keys])
    if routed is not None:
        touched = F.broadcast(touched)
    # Null-safe anti join (still a hash equi-join): a plain-equality
    # anti join can never drop a NULL-keyed row, which would break the
    # diff/apply round-trip law for NULL keys.
    cond = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(f"__t_{k}")) for k in keys],
    )
    survivors = target.join(touched, cond, "left_anti")
    src = latest if routed is None else routed
    upserts = src.filter(F.col(op_col) != "d").select(*target.columns)
    return survivors.unionByName(upserts)


class PreparedBatch:
    """A change batch compacted to latest-wins form and persisted, plus
    the touched sets the mirrors derive from it.

    The only place the mirror write paths call ``compact_latest``: the
    window shuffle runs once per batch, and every merge, conflict retry
    and ref-CAS retry reads cache blocks. ``touched(*cols)`` collects
    the distinct values of a bucket or partition expression once per
    expression (at most |batch dates| x n_buckets rows, a driver-safe
    collect); the first call is the action that fills the cache.

    Ownership: ``apply(prepared=h)`` consumes ``h`` and releases it
    whether the commit lands or raises; a ``with`` block releases a
    handle that never reached ``apply``. ``release()`` is idempotent.
    persist, not localCheckpoint: only a persisted relation can be
    freed the moment its commit lands, and an evicted block recomputes
    from lineage instead of failing."""

    def __init__(self, changes: DataFrame, keys: list[str],
                 order_cols: list[str] = ("ts_ms", "off")):
        self.df = compact_latest(changes, keys, order_cols).persist()
        self._touched: dict[tuple[str, ...], set] = {}
        self._released = False

    @classmethod
    def of(cls, changes: DataFrame | None, prepared: PreparedBatch | None,
           keys: list[str], order_cols: list[str]) -> PreparedBatch:
        """``prepared`` if given (``changes`` is then ignored), else a
        lazy batch over ``changes``."""
        if prepared is not None:
            return prepared
        if changes is None:
            raise ValueError("apply needs changes or prepared")
        return cls(changes, keys, order_cols)

    def touched(self, *cols) -> set:
        """Distinct values of ``cols`` over the batch: scalars for one
        column, tuples for several."""
        key = tuple(str(c) for c in cols)
        if key not in self._touched:
            rows = self.df.select(*cols).distinct().collect()
            self._touched[key] = {
                r[0] if len(cols) == 1 else tuple(r) for r in rows}
        return self._touched[key]

    def materialize(self, *cols) -> PreparedBatch:
        """Fill the cache with ``touched(*cols)`` as the action;
        releases the batch if that job fails."""
        try:
            self.touched(*cols)
        except BaseException:
            self.release()
            raise
        return self

    def release(self) -> None:
        if not self._released:
            self._released = True
            self.df.unpersist()

    def __enter__(self) -> PreparedBatch:
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def mirror_diff(mirror: DataFrame, expected: DataFrame) -> DataFrame:
    """Two-sided multiset diff — empty iff mirror == expected.

    The reference verifies its mirror by manual re-query
    (`test_cdc.py:75-92`); this is the assertive version.
    """
    return mirror.exceptAll(expected).unionByName(expected.exceptAll(mirror))


def evolve_schema(target: DataFrame, changes: DataFrame) -> DataFrame:
    """Widen ``target`` with any data column ``changes`` carries that
    the target lacks (typed NULLs for existing rows) — the parquet
    fallback for Iceberg sink schema evolution, where a drifted source
    payload adds columns and the sink table follows
    (`connect-iceberg-sink.json:15-16` upsert mode with evolving
    Debezium payloads). Column ORDER follows the target (new columns
    append), matching Iceberg's add-column-at-end semantics; dropped
    source columns are NOT removed (Iceberg keeps them, readers see
    NULL)."""
    have = set(target.columns)
    out = target
    for f in changes.schema.fields:
        if f.name not in have:
            out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
    return out


# NOTE: the keyed snapshot diff lives in cdc/diff.py (table_changes) —
# one definition, null-safe keys, property-tested round-trip law; pass
# images="both" for the Delta-CDF before/after shape.
