"""Optimization equivalence pins (OPTIMIZATION_r21.md) and the
prepared-batch ownership laws of the CDC mirrors.

Same contract as tests/test_r20_opt.py: every optimization here
restructured an operator's internals while the registered results must
stay bit-identical; each test pins the restructured primitive against
the reference shape it replaced.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark.ext import ann
from proof_of_concept___cdc_w_iceberg_spark.ext.similarity import _sqnorm
from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return load(spark, SF, "embeddings").select(
        "vec_id", "label", "embedding",
        _sqnorm(F.col("embedding")).alias("sq"),
    )


def _rows(df):
    return sorted(
        (r["src"], r["dst"], repr(r["cosine"]), r["rn"])
        for r in df.collect()
    )


def test_knn_graph_state_kernel_matches_fold(spark):
    """knn_graph_state's cell_pair_scores kernel build must equal the
    join+fold reference bit-for-bit (unrounded cosines included — the
    state carries full precision)."""
    e = _emb(spark)
    new = ann.knn_graph_state(e)
    old = ann._knn_topk(ann._knn_scored(e, e))
    assert _rows(new) == _rows(old)


def test_knn_delete_apply_cogroup_rerank_matches_fold(spark):
    """knn_graph_delete_apply's cogroup-kernel rerank must equal the
    join+fold reference on the registered delete shape (every 11th
    vector removed)."""
    e = _emb(spark).localCheckpoint(eager=True)
    state = ann.knn_graph_state(e).localCheckpoint(eager=True)
    dels = e.filter(F.col("vec_id") % 11 == 3).select("vec_id")
    surv = e.filter(F.col("vec_id") % 11 != 3)

    new = ann.knn_graph_delete_apply(state, surv, dels)

    # Reference: the pre-r21 shape (join + interpreted fold rerank).
    dels_b = F.broadcast(dels.select(F.col("vec_id").alias("del_id")))
    alive = state.join(dels_b, F.col("src") == F.col("del_id"), "left_anti")
    broken = (
        alive.join(dels_b, F.col("dst") == F.col("del_id"), "left_semi")
        .select("src")
        .distinct()
    )
    keep = alive.join(broken, "src", "left_anti")
    e_broken = surv.join(broken.withColumnRenamed("src", "vec_id"), "vec_id")
    old = keep.unionByName(
        ann._knn_topk(ann._knn_scored(e_broken, surv))
    )
    assert _rows(new) == _rows(old)


def test_substr_state_build_materialize_hook_row_preserving(spark):
    """substr_state_build(materialize=localCheckpoint) must return the
    same three relations as the unhooked build (the hook only cuts
    lineage — q_dedup_substr_incremental's r21 restructure)."""
    from proof_of_concept___cdc_w_iceberg_spark.ext.dedup import (
        substr_state_build,
    )

    docs = load(spark, SF, "documents").select("doc_id", "text")
    g0, h0, r0 = substr_state_build(docs, w=3)
    g1, h1, r1 = substr_state_build(
        docs, w=3, materialize=lambda df: df.localCheckpoint(eager=True)
    )
    assert sorted(map(tuple, g0.collect())) == sorted(map(tuple, g1.collect()))
    assert sorted(map(tuple, h0.collect())) == sorted(map(tuple, h1.collect()))
    assert sorted(map(tuple, r0.collect())) == sorted(map(tuple, r1.collect()))


def test_concurrent_commits_same_process_allocate_distinct_versions(spark, tmp_path):
    """_commit's staging tmp name must be writer-unique: with a pid-only
    name, two driver THREADS committing concurrently (the wap_race /
    overlapped wap_publish shape) stage the same file, and the winner's
    link-and-unlink makes the loser's os.link die with
    FileNotFoundError instead of the FileExistsError the allocation
    loop retries on. N concurrent commits must serialize to N distinct
    versions with no error."""
    import threading
    from functools import partial

    from proof_of_concept___cdc_w_iceberg_spark.cdc.versioned import (
        SnapshotMirror,
    )
    from proof_of_concept___cdc_w_iceberg_spark.obs import overlap

    m = SnapshotMirror(spark, str(tmp_path / "mirror"), keys=["k"])
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    m.init(df)

    barrier = threading.Barrier(8)

    def commit(i):
        barrier.wait()
        return m._commit({}, df.schema.json(), parent=0, linear=False)

    versions = overlap(*[partial(commit, i) for i in range(8)])
    assert sorted(versions) == list(range(1, 9))


def _persistent_ids(spark) -> set[int]:
    """Ids of the RDDs the context currently holds persisted. Compared
    as sets, not counts: ContextCleaner may drop an unrelated earlier
    test's garbage RDD at any moment, which only ever shrinks the set."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


MIRROR_KINDS = ["SnapshotMirror", "BranchedMirror", "SpecEvolvingMirror",
                "SpecEvolvingMirror-evolved", "BucketedMirror",
                "TwoLevelMirror"]


def _mirror(spark, path, kind):
    from proof_of_concept___cdc_w_iceberg_spark.cdc import (
        branches, bucketed, specs, versioned,
    )

    keys = ["k"]
    if kind == "TwoLevelMirror":
        return bucketed.TwoLevelMirror(spark, path, keys, date_col="day",
                                       n_buckets=4)
    cls = {"SnapshotMirror": versioned.SnapshotMirror,
           "BranchedMirror": branches.BranchedMirror,
           "BucketedMirror": bucketed.BucketedMirror,
           }.get(kind, specs.SpecEvolvingMirror)
    return cls(spark, path, keys, n_buckets=4)


@pytest.mark.parametrize("kind", MIRROR_KINDS)
def test_prepare_then_apply_matches_plain_apply(spark, tmp_path, kind):
    """Every mirror family: applying a prepare() handle commits exactly
    what the one-call apply commits, the handle is released by apply
    (no persisted RDD outlives the commit), and apply with neither
    argument refuses. Branches accept handles the same way; the
    spec-evolving mirror is checked before and after evolve_spec(2n)."""
    base = spark.createDataFrame(
        [(i, f"n{i}", float(i), i % 3) for i in range(30)],
        "k long, name string, bal double, day int",
    )
    changes = spark.createDataFrame(
        [(3, "x", 9.9, 0, "u", 100, 1), (200, "new", 1.0, 2, "c", 100, 2),
         (7, None, None, 1, "d", 100, 3)],
        "k long, name string, bal double, day int, op string, ts_ms long, "
        "off long",
    )

    def build(sub):
        m = _mirror(spark, str(tmp_path / sub), kind)
        m.init(base)
        if kind == "SpecEvolvingMirror-evolved":
            m.evolve_spec(8)
        return m

    def rows(df):
        return sorted(map(tuple, df.select("k", "name", "bal", "day")
                          .collect()))

    m1 = build("plain")
    m1.apply(changes)
    plain = rows(m1.read())

    m2 = build("prepped")
    before = _persistent_ids(spark)
    m2.apply(prepared=m2.prepare(changes))
    assert not (_persistent_ids(spark) - before), "apply leaked the handle"
    assert rows(m2.read()) == plain

    if kind == "BranchedMirror":
        m3 = build("branch")
        m3.branch_create("audit")
        m3.apply_to_branch("audit", prepared=m3.prepare(changes))
        assert not (_persistent_ids(spark) - before)
        assert rows(m3.read_ref("audit")) == plain

    with pytest.raises(ValueError):
        m2.apply()


@pytest.mark.parametrize("query,fail", [
    ("q_cdc_apply_bucketed", "init"),
    ("q_cdc_wap_publish", "init"),
    ("q_cdc_wap_race", "init"),
    ("q_cdc_wap_publish", "audit"),
])
def test_failed_step_releases_prepared_handles(spark, sf_dir, monkeypatch,
                                               query, fail):
    """A query that overlaps prepare() with init (or with audits) must
    release every prepared handle when a step raises: a handle that
    never reached apply is released by the query's with block, and
    apply releases the ones it consumed."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc import (
        branches, bucketed, queries,
    )

    class Injected(RuntimeError):
        pass

    def boom(*args, **kwargs):
        raise Injected(fail)

    if fail == "init":
        monkeypatch.setattr(bucketed.BucketedMirror, "init", boom)
        monkeypatch.setattr(branches.BranchedMirror, "init", boom)
    else:
        audit = branches.wap_audit

        def failing_bad_leg(state, keys, batch_keys=None):
            if batch_keys is None:  # the poisoned leg's audit
                raise Injected(fail)
            return audit(state, keys, batch_keys)

        monkeypatch.setattr(branches, "wap_audit", failing_bad_leg)

    before = _persistent_ids(spark)
    with pytest.raises(Injected):
        getattr(queries, query)(spark, sf_dir)
    assert not (_persistent_ids(spark) - before), query
