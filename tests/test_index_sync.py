"""The ANN index as a derived table of a txlog embeddings table.

`build_index_from_table` captures a snapshot + sync cursor;
`sync_index_from_table` drains the change feed and applies the net
effect exactly-once: appends land in their buckets, deletes/updates
rewrite only the buckets holding the affected ids. The invariant after
every sync: the index corpus (id, vector) EQUALS the table snapshot —
which makes a GDPR delete on the source table reach the vector index
through the same maintenance verb as every other derived table.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.operators.txlog import (
    append,
    delete_rows_dv,
    init_table,
    merge_upsert,
    snapshot,
    update_rows,
)
from etl_sentinel_imagery_spark.plans.serving import (
    build_index_from_table,
    sync_index_from_table,
    topk,
)


def _vecs(spark, ids, shift=0.0):
    rows = [
        (
            int(i),
            [
                float((i * 7 + d * 3) % 11) / 11.0 + shift
                for d in range(4)
            ],
        )
        for i in ids
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _corpus(spark, index_dir):
    from etl_sentinel_imagery_spark.operators.similarity import (
        read_indexed_layout,
    )

    # the COMMITTED view: retired generations stay on disk for
    # in-flight readers (vacuum_layout removes them), so the corpus
    # check must resolve the live manifest like every real reader
    return sorted(
        (r["vec_id"], tuple(round(x, 9) for x in r["embedding"]))
        for r in read_indexed_layout(
            spark, os.path.join(index_dir, "ivf")
        ).select("vec_id", "embedding").collect()
    )


def _table(spark, t):
    return sorted(
        (r["vec_id"], tuple(round(x, 9) for x in r["embedding"]))
        for r in snapshot(spark, t).collect()
    )


def test_sync_applies_appends_deletes_updates_exactly(
    spark, tmp_path
):
    t = str(tmp_path / "emb")
    init_table(spark, t, _vecs(spark, range(40)).coalesce(2))
    idx = str(tmp_path / "idx")
    build_index_from_table(spark, t, idx, n_centroids=4)
    assert _corpus(spark, idx) == _table(spark, t)

    append(spark, t, _vecs(spark, range(100, 110)).coalesce(1))
    delete_rows_dv(spark, t, "vec_id", [3, 5, 101])  # GDPR purge
    update_rows(
        spark,
        t,
        "vec_id = 7",
        {"embedding": F.expr("transform(embedding, x -> x + 0.5)")},
    )
    rep = sync_index_from_table(spark, t, idx)
    # 9 surviving appends + the updated id (101 appended-then-deleted
    # nets to a delete and never reaches the index)
    assert rep["upserts"] == 10
    assert rep["deletes"] == 3
    assert rep["buckets_rewritten"] >= 1
    assert _corpus(spark, idx) == _table(spark, t)
    # serving: deleted ids never surface; the updated vector serves
    # its NEW value (exact rerank reads the synced full-precision row)
    q = _vecs(spark, [7]).select(
        "vec_id",
        F.expr("transform(embedding, x -> x + 0.5)").alias("embedding"),
    )
    hits = topk(spark, q, idx, k=5, n_probe=4).collect()
    assert all(h["cand_id"] not in (3, 5, 101) for h in hits)

    # a second sync with no new commits is a no-op
    rep2 = sync_index_from_table(spark, t, idx)
    assert rep2["upserts"] == 0 and rep2["buckets_rewritten"] == 0
    assert _corpus(spark, idx) == _table(spark, t)


def test_sync_replay_after_crash_converges(spark, tmp_path):
    """Crash between apply and cursor advance: the redo sweeps the
    partial append (its ids are changed ids by construction) and the
    corpus still equals the snapshot — no duplicates."""
    t = str(tmp_path / "emb2")
    init_table(spark, t, _vecs(spark, range(20)).coalesce(1))
    idx = str(tmp_path / "idx2")
    build_index_from_table(spark, t, idx, n_centroids=3)
    cur = os.path.join(idx, "_table_sync.json")
    pre_crash = open(cur).read()

    merge_upsert(
        spark, t, _vecs(spark, [5, 6, 200], shift=0.25), "vec_id"
    )
    sync_index_from_table(spark, t, idx)
    assert _corpus(spark, idx) == _table(spark, t)
    # simulate the crash: cursor never advanced — the range replays
    with open(cur, "w") as f:
        f.write(pre_crash)
    rep = sync_index_from_table(spark, t, idx)
    assert rep["upserts"] == 3
    assert _corpus(spark, idx) == _table(spark, t)


def test_sync_clears_fully_emptied_buckets(spark, tmp_path):
    t = str(tmp_path / "emb3")
    init_table(spark, t, _vecs(spark, range(30)).coalesce(1))
    idx = str(tmp_path / "idx3")
    build_index_from_table(spark, t, idx, n_centroids=2)
    # kill everything: both buckets empty out
    delete_rows_dv(
        spark, t, "vec_id", list(range(30))
    )
    rep = sync_index_from_table(spark, t, idx)
    assert rep["deletes"] == 30
    assert _corpus(spark, idx) == [] == _table(spark, t)


def test_sync_is_single_writer_via_flock(spark, tmp_path):
    """The sync verb's single-writer contract is ENFORCED, not
    documentation: while a second process holds the index's advisory
    lock, a concurrent sync fails fast instead of interleaving bucket
    generations; after release it proceeds."""
    import subprocess
    import sys
    import textwrap

    t = str(tmp_path / "embl")
    init_table(spark, t, _vecs(spark, range(20)).coalesce(1))
    idx = str(tmp_path / "idxl")
    build_index_from_table(spark, t, idx, n_centroids=2, hnsw=False)
    append(spark, t, _vecs(spark, [100]).coalesce(1))

    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            textwrap.dedent(
                f"""
                import fcntl, sys, time
                f = open({os.path.join(idx, '_sync.lock')!r}, "w")
                fcntl.flock(f, fcntl.LOCK_EX)
                print("held", flush=True)
                time.sleep(30)
                """
            ),
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "held"
        with pytest.raises(RuntimeError, match="single-writer"):
            sync_index_from_table(spark, t, idx)
    finally:
        holder.kill()
        holder.wait()
    # lock released with the holder's death: the sync proceeds
    rep = sync_index_from_table(spark, t, idx)
    assert rep["upserts"] == 1
    assert _corpus(spark, idx) == _table(spark, t)


def test_missing_cursor_directs_to_build_verb(spark, tmp_path):
    t = str(tmp_path / "emb4")
    init_table(spark, t, _vecs(spark, range(10)).coalesce(1))
    idx2 = str(tmp_path / "idx5")
    os.makedirs(idx2)
    with pytest.raises(ValueError, match="build_index_from_table"):
        sync_index_from_table(spark, t, idx2)


def _pq_rows(spark, index_dir):
    from etl_sentinel_imagery_spark.operators.similarity import (
        read_indexed_layout,
    )

    return sorted(
        (r["vec_id"], tuple(r["pq_codes"]), r["bucket"])
        for r in read_indexed_layout(
            spark, os.path.join(index_dir, "ivfpq")
        ).collect()
    )


def test_sync_maintains_pq_tier_end_to_end(spark, tmp_path):
    """Round-7 verdict #4: the LAST tier refusal removed. A GDPR purge
    reaches the compressed tier tombstone-free (no published
    generation holds the purged codes), upserts encode under the
    frozen codebooks, the maintained layout is BIT-IDENTICAL to a
    from-scratch encode of the final corpus under the same model
    (codes are a pure function of vector + frozen model), crash
    replay converges, and churn past pq_rebuild_debt retrains the
    codebooks."""
    t = str(tmp_path / "embp")
    init_table(spark, t, _vecs(spark, range(60)).coalesce(2))
    idx = str(tmp_path / "idxp")
    build_index_from_table(
        spark, t, idx, n_centroids=4, hnsw=False,
        pq=True, pq_m=2, pq_k=8,
    )
    pqdir = os.path.join(idx, "ivfpq")

    append(spark, t, _vecs(spark, range(200, 210)).coalesce(1))
    delete_rows_dv(spark, t, "vec_id", [3, 5, 203])  # GDPR purge
    update_rows(
        spark,
        t,
        "vec_id = 7",
        {"embedding": F.expr("transform(embedding, x -> x + 0.5)")},
    )
    rep = sync_index_from_table(spark, t, idx, pq_rebuild_debt=0.5)
    assert rep["ivfpq"]["action"] == "repair"
    assert rep["ivfpq"]["buckets_rewritten"] >= 1
    assert _corpus(spark, idx) == _table(spark, t)

    # the maintained codes == a from-scratch encode of the final
    # corpus under the SAME frozen model (append==rebuild, PQ edition)
    from etl_sentinel_imagery_spark.operators.ivfpq import ivfpq_encode

    expected = sorted(
        (r["vec_id"], tuple(r["pq_codes"]), r["bucket"])
        for r in ivfpq_encode(
            snapshot(spark, t).select("vec_id", "embedding"), pqdir
        ).collect()
    )
    assert _pq_rows(spark, idx) == expected
    live_ids = {i for i, _, _ in _pq_rows(spark, idx)}
    assert live_ids == {i for i, _ in _table(spark, t)}
    assert not live_ids & {3, 5, 203}, "purged codes survived"

    # serving through the compressed tier excludes purged ids
    hits = topk(
        spark, _vecs(spark, [7]), idx, k=8, tier="ivfpq", n_probe=4
    ).collect()
    assert hits, "pq tier serves"
    assert all(h["cand_id"] not in (3, 5, 203) for h in hits)

    # crash replay converges (cursor rollback re-drains the range)
    cur = os.path.join(idx, "_table_sync.json")
    pre = open(cur).read()
    merge_upsert(spark, t, _vecs(spark, [9, 300], shift=0.2), "vec_id")
    sync_index_from_table(spark, t, idx, pq_rebuild_debt=0.5)
    with open(cur, "w") as f:
        f.write(pre)
    sync_index_from_table(spark, t, idx, pq_rebuild_debt=0.5)
    assert _corpus(spark, idx) == _table(spark, t)
    assert {i for i, _, _ in _pq_rows(spark, idx)} == {
        i for i, _ in _table(spark, t)
    }

    # rebuild debt: a churn burst retrains the codebooks and resets
    from etl_sentinel_imagery_spark.operators.ivfpq import load_model

    books_before = load_model(pqdir)[1].copy()
    delete_rows_dv(spark, t, "vec_id", list(range(20, 50)))
    rep3 = sync_index_from_table(spark, t, idx, pq_rebuild_debt=0.2)
    assert rep3["ivfpq"]["action"] == "rebuild"
    import json as _json

    meta = _json.load(open(os.path.join(idx, "ivfpq_meta.json")))
    assert meta["churn"] == 0
    assert {i for i, _, _ in _pq_rows(spark, idx)} == {
        i for i, _ in _table(spark, t)
    }
    books_after = load_model(pqdir)[1]
    assert books_before.shape == books_after.shape  # same m/k config


def test_sync_maintains_hnsw_tier_end_to_end(spark, tmp_path):
    """The tier matrix extends to HNSW (round-6 verdict #3): a GDPR
    purge reaches the GRAPH-SERVED top-k, updates serve their new
    vectors, crash replay converges, and accumulated churn past the
    rebuild-debt threshold triggers a full rebuild."""
    t = str(tmp_path / "embh")
    init_table(spark, t, _vecs(spark, range(60)).coalesce(2))
    idx = str(tmp_path / "idxh")
    build_index_from_table(
        spark, t, idx, n_centroids=4, hnsw=True, hnsw_shards=3
    )
    # the build records the graph's modulus and size exactly once
    from etl_sentinel_imagery_spark.plans.serving import _read_hnsw_meta

    meta = _read_hnsw_meta(idx)
    assert meta["n_shards"] == 3
    assert meta["built_nodes"] == snapshot(spark, t).count() == 60

    append(spark, t, _vecs(spark, range(200, 210)).coalesce(1))
    delete_rows_dv(spark, t, "vec_id", [3, 5, 203])
    update_rows(
        spark,
        t,
        "vec_id = 7",
        {"embedding": F.expr("transform(embedding, x -> x + 0.5)")},
    )
    rep = sync_index_from_table(spark, t, idx, hnsw_rebuild_debt=0.5)
    assert rep["hnsw"]["action"] == "repair"
    assert _corpus(spark, idx) == _table(spark, t)
    # graph nodes == table ids exactly (no stale nodes, no misses)
    from etl_sentinel_imagery_spark.operators.similarity import (
        read_indexed_layout,
    )

    nodes = {
        r["node_id"]
        for r in read_indexed_layout(spark, os.path.join(idx, "hnsw"))
        .filter(F.col("level") == 0)
        .collect()
    }
    assert nodes == {i for i, _ in _table(spark, t)}
    # purge reaches the GRAPH-served top-k
    q = _vecs(spark, [7]).select(
        "vec_id",
        F.expr("transform(embedding, x -> x + 0.5)").alias("embedding"),
    )
    hits = topk(spark, q, idx, k=8, tier="hnsw", ef_search=64).collect()
    assert hits, "graph tier serves"
    assert all(h["cand_id"] not in (3, 5, 203) for h in hits)

    # crash replay converges (cursor rollback)
    cur = os.path.join(idx, "_table_sync.json")
    pre = open(cur).read()
    merge_upsert(spark, t, _vecs(spark, [9, 300], shift=0.2), "vec_id")
    sync_index_from_table(spark, t, idx, hnsw_rebuild_debt=0.5)
    with open(cur, "w") as f:
        f.write(pre)
    sync_index_from_table(spark, t, idx, hnsw_rebuild_debt=0.5)
    assert _corpus(spark, idx) == _table(spark, t)
    nodes2 = {
        r["node_id"]
        for r in read_indexed_layout(spark, os.path.join(idx, "hnsw"))
        .filter(F.col("level") == 0)
        .collect()
    }
    assert nodes2 == {i for i, _ in _table(spark, t)}

    # rebuild debt: a churn burst past the threshold rebuilds
    delete_rows_dv(spark, t, "vec_id", list(range(20, 50)))
    rep3 = sync_index_from_table(spark, t, idx, hnsw_rebuild_debt=0.2)
    assert rep3["hnsw"]["action"] == "rebuild"
    import json as _json

    meta = _json.load(open(os.path.join(idx, "hnsw_meta.json")))
    assert meta["churn"] == 0
    assert _corpus(spark, idx) == _table(spark, t)
    hits3 = topk(
        spark, _vecs(spark, [1]), idx, k=5, tier="hnsw", ef_search=64
    ).collect()
    assert hits3 and all(
        20 > h["cand_id"] or h["cand_id"] >= 50 or h["cand_id"] > 199
        for h in hits3
    )


_RACE_READER = r'''
import json, os, sys
import pyarrow.parquet as pq

path, out_path, stop_path = sys.argv[1], sys.argv[2], sys.argv[3]
ldir = os.path.join(path, "_live")
snapshots, errors = [], []
while not os.path.exists(stop_path):
    try:
        with open(os.path.join(ldir, "_CURRENT")) as f:
            name = f.read().strip()
        with open(os.path.join(ldir, name)) as f:
            files = json.load(f)["files"]
        ids = []
        for rel in files:
            t = pq.read_table(
                os.path.join(path, rel), columns=["vec_id"]
            )
            ids.extend(t.column("vec_id").to_pylist())
        snapshots.append(sorted(int(i) for i in ids))
    except Exception as e:  # a torn read is a recorded failure
        errors.append(repr(e))
        break
with open(out_path, "w") as f:
    json.dump({"snapshots": snapshots, "errors": errors}, f)
'''


def test_concurrent_reader_during_sync_sees_old_or_new(spark, tmp_path):
    """Round-6 verdict #4 done-criterion: a SECOND PROCESS reads the
    index continuously while syncs rewrite buckets; every snapshot it
    resolves must equal a COMMITTED generation's exact id multiset —
    old or new, never a mixed/partial view. The reader is plain
    pyarrow over the manifest protocol (the race is at the filesystem
    level; a server-side reader resolves the same _CURRENT pointer),
    which also keeps a second Spark JVM off this box. Any read error
    (a manifest naming a vanished file) is a recorded failure too —
    maintenance never deletes data files, only vacuum_layout does."""
    import json
    import subprocess
    import sys

    t = str(tmp_path / "embr")
    n = 240
    init_table(spark, t, _vecs(spark, range(n)).coalesce(2))
    idx = str(tmp_path / "idxr")
    build_index_from_table(
        spark, t, idx, n_centroids=6, hnsw=False
    )

    out_path = str(tmp_path / "reader_out.json")
    stop_path = str(tmp_path / "reader_stop")
    reader = subprocess.Popen(
        [sys.executable, "-c", _RACE_READER,
         os.path.join(idx, "ivf"), out_path, stop_path]
    )
    try:
        # every committed generation's id multiset, in commit order.
        # Each sync publishes up to TWO generations: the bucket
        # rewrite (deletes applied) and the append (inserts live).
        live = set(range(n))
        expected = [tuple(sorted(live))]
        nxt = n
        for rnd in range(3):
            dead = set(range(rnd * 30, rnd * 30 + 25))
            fresh = set(range(nxt, nxt + 20))
            nxt += 20
            delete_rows_dv(spark, t, "vec_id", sorted(dead))
            append(spark, t, _vecs(spark, sorted(fresh)).coalesce(1))
            live -= dead
            expected.append(tuple(sorted(live)))  # post-rewrite gen
            live |= fresh
            expected.append(tuple(sorted(live)))  # post-append gen
            sync_index_from_table(spark, t, idx)
            assert _corpus(spark, idx) == _table(spark, t)
    finally:
        open(stop_path, "w").close()
        reader.wait(timeout=120)
    assert reader.returncode == 0
    with open(out_path) as f:
        got = json.load(f)
    assert got["errors"] == []
    assert len(got["snapshots"]) >= 3, "reader raced at least a few reads"
    allowed = set(expected)
    for snap in got["snapshots"]:
        assert tuple(snap) in allowed, (
            f"torn read: {len(snap)} ids not matching any committed "
            f"generation (sizes {sorted({len(e) for e in allowed})})"
        )


def test_vacuum_layout_retires_only_dead_generations(spark, tmp_path):
    """vacuum_layout removes exactly the files no live manifest
    references (age-gated), sweeps retired manifests, and leaves the
    committed view bit-identical."""
    from etl_sentinel_imagery_spark.operators.similarity import (
        list_layout_data_files,
        live_layout_files,
        vacuum_layout,
    )

    t = str(tmp_path / "embv")
    init_table(spark, t, _vecs(spark, range(40)).coalesce(1))
    idx = str(tmp_path / "idxv")
    build_index_from_table(spark, t, idx, n_centroids=3, hnsw=False)
    ivf = os.path.join(idx, "ivf")

    delete_rows_dv(spark, t, "vec_id", list(range(0, 12)))
    append(spark, t, _vecs(spark, range(100, 110)).coalesce(1))
    sync_index_from_table(spark, t, idx)
    before_live = live_layout_files(ivf)
    on_disk = list_layout_data_files(ivf)
    assert set(before_live) < set(on_disk), "retired gen still on disk"

    # age gate: nothing young enough is touched
    assert vacuum_layout(ivf, min_age_seconds=3600) == []
    corpus_before = _corpus(spark, idx)
    removed = vacuum_layout(ivf, min_age_seconds=0)
    assert sorted(removed) == sorted(set(on_disk) - set(before_live))
    assert list_layout_data_files(ivf) == sorted(before_live)
    assert _corpus(spark, idx) == corpus_before == _table(spark, t)
    # retired manifests swept, current survives
    ldir = os.path.join(ivf, "_live")
    manifests = [
        m for m in os.listdir(ldir) if m.startswith("manifest-")
    ]
    with open(os.path.join(ldir, "_CURRENT")) as f:
        assert manifests == [f.read().strip()]


def test_vacuum_layout_gates_on_retirement_not_write_time(tmp_path):
    """Round-7 ADVICE (medium): a generation whose FILES are hours old
    but was repointed away seconds ago must survive vacuum — an
    in-flight reader that resolved _CURRENT just before the flip may
    still be scanning it. The gate ages the retirement (the retired
    manifest's flip-stamped mtime), not the data files' write time.
    Fresh unmanifested files (an in-flight publisher's) also survive."""
    import os
    import time

    from etl_sentinel_imagery_spark.operators.similarity import (
        list_layout_data_files,
        publish_layout_manifest,
        vacuum_layout,
    )

    lay = str(tmp_path / "lay")
    os.makedirs(os.path.join(lay, "bucket=0"))
    old = time.time() - 7200  # files "written hours ago"
    gen1 = ["bucket=0/g1.parquet"]
    gen2 = ["bucket=0/g2.parquet"]
    for rel in gen1 + gen2:
        p = os.path.join(lay, rel)
        with open(p, "wb") as f:
            f.write(b"x")
        os.utime(p, (old, old))
    publish_layout_manifest(lay, gen1)
    time.sleep(0.05)
    publish_layout_manifest(lay, gen2)  # g1 retired JUST NOW

    # old write time + fresh retirement → g1 must survive
    assert vacuum_layout(lay, min_age_seconds=3600) == []
    assert set(list_layout_data_files(lay)) == set(gen1 + gen2)

    # backdate the RETIREMENT (the retired manifest's mtime): now g1
    # is provably unreadable by any live reader and goes away
    ldir = os.path.join(lay, "_live")
    with open(os.path.join(ldir, "_CURRENT")) as f:
        current = f.read().strip()
    for name in os.listdir(ldir):
        if name.startswith("manifest-") and name != current:
            os.utime(os.path.join(ldir, name), (old, old))
    assert vacuum_layout(lay, min_age_seconds=3600) == gen1
    assert list_layout_data_files(lay) == gen2

    # an in-flight publisher's fresh file (no manifest references it
    # yet) survives the same vacuum; once old AND unreferenced it goes
    orphan = os.path.join(lay, "bucket=0", "inflight.parquet")
    with open(orphan, "wb") as f:
        f.write(b"y")
    assert vacuum_layout(lay, min_age_seconds=3600) == []
    assert os.path.exists(orphan)
    os.utime(orphan, (old, old))
    assert vacuum_layout(lay, min_age_seconds=3600) == [
        "bucket=0/inflight.parquet"
    ]


def test_pq_rebuild_preserves_residual_opq_config(spark, tmp_path):
    """The debt-triggered codebook retrain must reproduce the stored
    model's configuration — a hand-built RESIDUAL tier (no rotation)
    rebuilds as residual-without-rotation, not as the plain-PQ shape
    the serving build defaults to (this branch held an unpack bug:
    plain-mode train_residual_codebooks returns codebooks alone)."""
    from etl_sentinel_imagery_spark.operators.ivfpq import (
        load_model,
        train_residual_codebooks,
        write_ivfpq_index,
    )
    from etl_sentinel_imagery_spark.plans.serving import load_centroids

    t = str(tmp_path / "embr")
    init_table(spark, t, _vecs(spark, range(60)).coalesce(2))
    idx = str(tmp_path / "idxr")
    build_index_from_table(spark, t, idx, n_centroids=3, hnsw=False)
    # hand-build the RESIDUAL compressed tier beside the IVF tier
    cents = load_centroids(idx)
    snap = snapshot(spark, t).select("vec_id", "embedding")
    books = train_residual_codebooks(snap, cents, m=2, k=8)
    pqdir = os.path.join(idx, "ivfpq")
    write_ivfpq_index(
        snap, cents, books, pqdir, residual=True,
    )

    delete_rows_dv(spark, t, "vec_id", [1, 4])
    rep = sync_index_from_table(spark, t, idx, pq_rebuild_debt=0.0)
    assert rep["ivfpq"]["action"] == "rebuild"
    c2, b2, rot2, res2 = load_model(pqdir)
    assert res2 is True and rot2 is None
    assert b2.shape == books.shape  # same m/k configuration
    assert {i for i, _, _ in _pq_rows(spark, idx)} == {
        i for i, _ in _table(spark, t)
    }


def test_pq_rebuild_never_deletes_live_generation(spark, tmp_path):
    """Round-8 ADVICE (high): the debt-triggered codebook retrain must
    land as NEW code files + a NEW ``_model`` version behind ONE
    manifest flip — never a ``mode("overwrite")`` that tears the live
    generation (data files, ``_live`` pointer, ``_model`` dir) out
    from under a concurrent reader. The manifest names the model
    version its codes were encoded with, so one pointer flip covers
    the pair; vacuum_layout reclaims the retired pair age-gated."""
    import time

    from etl_sentinel_imagery_spark.operators.similarity import (
        list_layout_data_files,
        live_layout_files,
        live_layout_model,
        vacuum_layout,
    )

    t = str(tmp_path / "embnd")
    init_table(spark, t, _vecs(spark, range(60)).coalesce(2))
    idx = str(tmp_path / "idxnd")
    build_index_from_table(
        spark, t, idx, n_centroids=4, hnsw=False,
        pq=True, pq_m=2, pq_k=8,
    )
    pqdir = os.path.join(idx, "ivfpq")
    old_files = live_layout_files(pqdir)
    old_model = live_layout_model(pqdir)
    assert old_model is not None, "build manifest binds its model"
    mdir = os.path.join(pqdir, "_model")
    with open(os.path.join(mdir, "_CURRENT")) as f:
        assert f.read().strip() == old_model

    delete_rows_dv(spark, t, "vec_id", [2, 9])
    rep = sync_index_from_table(spark, t, idx, pq_rebuild_debt=0.0)
    assert rep["ivfpq"]["action"] == "rebuild"

    # the OLD generation survives intact for in-flight readers: every
    # pre-rebuild data file AND its model version dir stay on disk,
    # and a reader that resolved the old manifest can still scan it
    assert set(old_files) <= set(list_layout_data_files(pqdir))
    assert os.path.isdir(os.path.join(mdir, old_model))
    n_old = (
        spark.read.option("basePath", pqdir)
        .parquet(*[os.path.join(pqdir, f) for f in old_files])
        .count()
    )
    assert n_old == 60

    # the NEW generation: all-new files, manifest model == _CURRENT
    new_files = live_layout_files(pqdir)
    new_model = live_layout_model(pqdir)
    assert not set(new_files) & set(old_files)
    assert new_model != old_model
    with open(os.path.join(mdir, "_CURRENT")) as f:
        assert f.read().strip() == new_model
    assert {i for i, _, _ in _pq_rows(spark, idx)} == {
        i for i, _ in _table(spark, t)
    }

    # vacuum: a YOUNG retirement keeps the whole pair; once the
    # retirement ages past the gate, BOTH the retired files and the
    # retired model version are reclaimed
    assert vacuum_layout(pqdir, min_age_seconds=3600) == []
    assert os.path.isdir(os.path.join(mdir, old_model))
    old_ts = time.time() - 7200
    ldir = os.path.join(pqdir, "_live")
    with open(os.path.join(ldir, "_CURRENT")) as f:
        current = f.read().strip()
    for name in os.listdir(ldir):
        if name.startswith("manifest-") and name != current:
            os.utime(os.path.join(ldir, name), (old_ts, old_ts))
    for rel in set(old_files) - set(new_files):
        os.utime(os.path.join(pqdir, rel), (old_ts, old_ts))
    os.utime(os.path.join(mdir, old_model), (old_ts, old_ts))
    for fn in os.listdir(os.path.join(mdir, old_model)):
        # round-9 ADVICE: vacuum ages a model on the NEWEST stamp in
        # the dir (in-flight-publisher protection), so faithful aging
        # backdates the contents too
        os.utime(os.path.join(mdir, old_model, fn), (old_ts, old_ts))
    removed = vacuum_layout(pqdir, min_age_seconds=3600)
    assert os.path.join("_model", old_model) in removed
    assert set(removed) >= set(old_files) - set(new_files)
    assert not os.path.isdir(os.path.join(mdir, old_model))
    assert live_layout_files(pqdir) == new_files
    assert {i for i, _, _ in _pq_rows(spark, idx)} == {
        i for i, _ in _table(spark, t)
    }


def test_pq_rebuild_on_fully_purged_corpus_publishes_empty(
    spark, tmp_path
):
    """Debt-triggered retrain crossing on a FULLY-PURGED corpus has
    nothing to train on — the sync must publish a readable empty
    generation under the frozen model, not crash the maintenance
    ladder inside the codebook trainer."""
    from etl_sentinel_imagery_spark.operators.similarity import (
        read_indexed_layout,
    )

    t = str(tmp_path / "embpg")
    init_table(spark, t, _vecs(spark, range(40)).coalesce(1))
    idx = str(tmp_path / "idxpg")
    build_index_from_table(
        spark, t, idx, n_centroids=3, hnsw=False,
        pq=True, pq_m=2, pq_k=8,
    )
    delete_rows_dv(spark, t, "vec_id", list(range(40)))  # purge ALL
    rep = sync_index_from_table(spark, t, idx, pq_rebuild_debt=0.0)
    assert rep["ivfpq"]["action"] == "rebuild_empty"
    pqdir = os.path.join(idx, "ivfpq")
    assert read_indexed_layout(spark, pqdir).count() == 0
    # the frozen model still loads (manifest keeps naming it)
    from etl_sentinel_imagery_spark.operators.ivfpq import load_model

    c, b, _rot, _res = load_model(pqdir)
    assert c.shape[0] == 3 and b.shape[0] == 2
    # a later re-ingest resumes normal maintenance on the empty tier
    append(spark, t, _vecs(spark, range(100, 105)).coalesce(1))
    rep2 = sync_index_from_table(spark, t, idx, pq_rebuild_debt=None)
    assert {i for i, _, _ in _pq_rows(spark, idx)} == set(
        range(100, 105)
    )
