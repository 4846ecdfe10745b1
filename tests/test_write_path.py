"""The one write path: ``engine._next_part_base`` gives every exclusive
writer its first part id, ``engine._rewrite_parts`` rewrites parts for
compaction, delete and merge, and ``engine._commit_snapshot_entry``
publishes every snapshot entry.

The parity test runs each write operation on a small fixed table and
compares the entries it commits, their manifest rows and a sha256 of
every written (column, part) block file with ``data/write_parity.json``,
captured from the per-operation write code this path replaced.
Regenerate it only for a deliberate format change:
``PYTHONPATH=. python tests/test_write_path.py tests/data/write_parity.json``.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

_KW = dict(cluster_by=["g"], sort_by=["id"], block_rows=40)

# (scenario, entry index, key) -> (parity value, value now, reason)
_EXPECTED_DIFF = {
    ("optimize_full", 0, "manifest_full"): (
        None, True,
        "a compaction-flagged entry always gets a full-coverage manifest; "
        "a full rewrite's manifest already covered the whole live set, "
        "now it is flagged so",
    ),
}


def _rows(spark, lo, hi, shift=0, slices=None):
    return spark.range(lo, hi, 1, slices).select(
        F.col("id"), (F.col("id") % 4).alias("g"),
        (F.col("id") * 10 + shift).alias("v"),
        F.concat(F.lit("s"), (F.col("id") % 7).cast("string")).alias("s"),
    )


def _base_table(spark, out):
    """400 rows in 4 parts, then two 40-row appends of 1 part each."""
    from sparkcodec.engine import encode_table

    encode_table(spark, _rows(spark, 0, 400), out, num_parts=4, resume=False,
                 **_KW)
    for lo in (400, 440):
        encode_table(spark, _rows(spark, lo, lo + 40), out, num_parts=1,
                     append=True, **_KW)


def _op_compact(spark, out):
    from sparkcodec.engine import compact_table

    compact_table(spark, out, target_part_rows=300)


def _op_compact_optimistic(spark, out):
    from sparkcodec.engine import compact_table

    compact_table(spark, out, target_part_rows=300, concurrency="optimistic")


def _op_delete_range(spark, out):
    from sparkcodec.engine import delete_rows

    delete_rows(spark, out, ("id", 50, 120))


def _op_delete_in(spark, out):
    from sparkcodec.engine import delete_rows

    delete_rows(spark, out, [("s", ["s1", "s3"]), ("id", 0, 300)])


def _op_upsert_broadcast(spark, out):
    from sparkcodec.engine import upsert_rows

    upsert_rows(spark, _rows(spark, 90, 130, shift=1), out, "id",
                broadcast_keys=1000, num_parts=1, **_KW)


def _op_upsert_join(spark, out):
    from sparkcodec.engine import upsert_rows

    upsert_rows(spark, _rows(spark, 90, 130, shift=1), out, "id",
                broadcast_keys=5, num_parts=1, **_KW)


def _op_optimize_where(spark, out):
    from sparkcodec.engine import optimize_table

    optimize_table(spark, out, sort_by=["v"], num_parts=2, where=("id", 0, 150))


def _op_optimize_full(spark, out):
    from sparkcodec.engine import optimize_table

    optimize_table(spark, out, sort_by=["v"], num_parts=2)


def _op_ds_append(spark, out):
    from sparkcodec.datasource import SparkcodecDataSource

    spark.dataSource.register(SparkcodecDataSource)
    _rows(spark, 480, 540, slices=2).write.format("sparkcodec").mode(
        "append").save(out)


SCENARIOS = {
    "compact": _op_compact,
    "compact_optimistic": _op_compact_optimistic,
    "delete_range": _op_delete_range,
    "delete_in": _op_delete_in,
    "upsert_broadcast": _op_upsert_broadcast,
    "upsert_join": _op_upsert_join,
    "optimize_where": _op_optimize_where,
    "optimize_full": _op_optimize_full,
    "ds_append": _op_ds_append,
}


def _manifest_rows(out, name):
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(out, "_manifests", name))
    return [
        [int(p), int(n), json.loads(m)]
        for p, n, m in zip(*(t.column(c).to_pylist()
                             for c in ("part_id", "n_rows", "meta")))
    ]


def _block_digests(out, parts):
    """sha256 over each (column, part) block file's blocks, in block
    order: codec, row count, meta and payload."""
    import pyarrow.parquet as pq

    out_d = {}
    blocks = os.path.join(out, "blocks")
    for cdir in sorted(os.listdir(blocks)):
        for pid in parts:
            path = os.path.join(blocks, cdir, f"part_{pid:06d}.parquet")
            if not os.path.exists(path):
                continue
            t = pq.read_table(path).sort_by("block_id")
            h = hashlib.sha256()
            for codec, n, meta, payload in zip(
                *(t.column(c).to_pylist()
                  for c in ("codec", "n_rows", "meta", "payload"))
            ):
                h.update(json.dumps([codec, n, meta]).encode())
                h.update(payload)
            out_d[f"{cdir}/{pid}"] = h.hexdigest()
    return out_d


def run_scenario(spark, root, name):
    """Build the base table under ``root/name``, run the operation, and
    return what it committed: each new entry (without its commit time,
    manifest file name and merge uuid, with its manifest rows) and the
    block digests of every part those entries added."""
    from sparkcodec.engine import snapshots

    out = os.path.join(root, name)
    _base_table(spark, out)
    before = len(snapshots(out))
    SCENARIOS[name](spark, out)
    entries, parts = [], set()
    for e in snapshots(out)[before:]:
        e = {k: v for k, v in e.items() if k not in ("ts", "merge")}
        name_ = e.pop("manifest", None)
        e["manifest_rows"] = _manifest_rows(out, name_) if name_ else None
        parts |= set(e.get("new_parts") or [])
        entries.append(e)
    return {"entries": entries, "blocks": _block_digests(out, sorted(parts))}


def capture(spark, root):
    return {name: run_scenario(spark, root, name) for name in SCENARIOS}


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_write_parity(spark, tmp_path, name):
    """Every write operation commits the same entries, manifests and
    block bytes as the per-operation write code did, except the
    differences listed in ``_EXPECTED_DIFF``."""
    with open(os.path.join(os.path.dirname(__file__), "data",
                           "write_parity.json")) as fh:
        want = json.load(fh)[name]
    got = run_scenario(spark, str(tmp_path), name)
    assert got["blocks"] == want["blocks"]
    assert len(got["entries"]) == len(want["entries"])
    for i, (g, w) in enumerate(zip(got["entries"], want["entries"])):
        diff_keys = {k for (n, j, k) in _EXPECTED_DIFF if (n, j) == (name, i)}
        for key in sorted(set(g) | set(w) | diff_keys):
            exp = _EXPECTED_DIFF.get((name, i, key))
            if exp is not None:
                assert (w.get(key), g.get(key)) == exp[:2], (name, i, key)
            else:
                assert g.get(key) == w.get(key), (name, i, key)


# ---------------------------------------------------------------------------
# part ids: one allocator for every exclusive writer


def _encode_small(spark, out, n=300, parts=3):
    from sparkcodec.engine import encode_table

    encode_table(spark, _rows(spark, 0, n), out, num_parts=parts,
                 resume=False, **_KW)


def test_ds_writer_skips_reserved_part_ids(spark, tmp_path):
    """The DataSource writer takes its ids from the shared allocator, so
    an optimistic writer's reserved range is never written into."""
    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import decode_table, reserve_part_range, snapshots

    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "t")
    _encode_small(spark, out, n=200, parts=2)
    res = reserve_part_range(out, 3, "encode")
    assert (res["base"], res["n"]) == (2, 3)
    _rows(spark, 200, 260, slices=2).write.format("sparkcodec").mode(
        "append").save(out)
    new = snapshots(out)[-1]["new_parts"]
    assert new and min(new) >= 5, new
    assert decode_table(spark, out).count() == 260


def test_rewrite_skips_crashed_append_range(spark, tmp_path, monkeypatch):
    """A crashed append's planned range (its part count is recorded in
    the pending marker) is off limits to exclusive rewrites and to the
    DataSource writer, so resuming the append loses no rows."""
    import sparkcodec.engine as eng
    from sparkcodec.datasource import SparkcodecDataSource

    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "t")
    _encode_small(spark, out)

    def crash(*a, **k):
        raise RuntimeError("crash before the commit")

    monkeypatch.setattr(eng, "_commit_snapshot_entry", crash)
    with pytest.raises(RuntimeError, match="crash"):
        eng.encode_table(spark, _rows(spark, 300, 600), out, num_parts=3,
                         append=True, **_KW)
    monkeypatch.undo()
    pend = eng._read_json(os.path.join(out, "_pending_append.json"))
    assert pend["base"] == 3 and pend["config"]["num_parts"] == 3
    # the crash hit mid-job: the last planned part never landed
    for cdir in os.listdir(os.path.join(out, "blocks")):
        p = os.path.join(out, "blocks", cdir, "part_000005.parquet")
        if os.path.exists(p):
            os.remove(p)
    eng.compact_table(spark, out, target_part_rows=1000)
    merged = eng.snapshots(out)[-1]["new_parts"]
    assert min(merged) >= 6, merged
    _rows(spark, 600, 640, slices=2).write.format("sparkcodec").mode(
        "append").save(out)
    ds_parts = eng.snapshots(out)[-1]["new_parts"]
    assert min(ds_parts) >= 6, ds_parts
    eng.encode_table(spark, _rows(spark, 300, 600), out, num_parts=3, append=True,
                     **_KW)
    dec = eng.decode_table(spark, out)
    assert dec.count() == 640
    assert dec.agg(F.sum("id")).collect()[0][0] == sum(range(640))


def _ds_append_in_process(spark, out, lo, hi):
    """A two-task DataSource append whose driver and task halves both run
    in this process (Spark runs them in its own Python workers, out of
    reach of a monkeypatch)."""
    from types import SimpleNamespace

    import pyarrow as pa
    import pyspark

    from sparkcodec.datasource import SparkcodecWriter

    w = SparkcodecWriter({"path": out}, _rows(spark, lo, hi).schema, False)
    ids = list(range(lo, hi))
    tbl = pa.table({
        "id": ids, "g": [i % 4 for i in ids], "v": [i * 10 for i in ids],
        "s": [f"s{i % 7}" for i in ids],
    })
    msgs = []
    real_get = pyspark.TaskContext.get
    try:
        for task, batch in enumerate(tbl.to_batches(max_chunksize=len(ids) // 2)):
            pyspark.TaskContext.get = staticmethod(
                lambda t=task: SimpleNamespace(partitionId=lambda: t))
            msgs.append(w.write(iter([batch])))
    finally:
        pyspark.TaskContext.get = real_get
    w.commit(msgs)


def test_ds_writer_consolidates_and_reuses_lineage(spark, tmp_path, monkeypatch):
    """DataSource appends publish through the shared commit: they take
    part in manifest consolidation, and their manifests fold the tasks'
    own lineage instead of re-reading checkpoints."""
    import sparkcodec.engine as eng

    monkeypatch.setattr(eng, "_CONSOLIDATE_EVERY", 2)
    out = str(tmp_path / "t")
    _encode_small(spark, out, n=100, parts=1)
    calls = []
    real = eng._checkpoint_prune_meta

    def counting(*a, **k):
        calls.append(a)
        return real(*a, **k)

    monkeypatch.setattr(eng, "_checkpoint_prune_meta", counting)
    for lo in (100, 150, 200):
        _ds_append_in_process(spark, out, lo, lo + 50)
    assert calls == []
    snaps = eng.snapshots(out)
    assert [len(s["new_parts"]) for s in snaps] == [1, 2, 2, 2]
    assert [bool(s.get("manifest_full")) for s in snaps] == [
        False, True, False, True]
    # a cold pruned read opens at most _CONSOLIDATE_EVERY manifests
    eng._MANIFEST_CACHE.clear()
    opened = []
    real_read = eng._read_manifest

    def counting_read(out_dir, name):
        opened.append(name)
        return real_read(out_dir, name)

    monkeypatch.setattr(eng, "_read_manifest", counting_read)
    dec = eng.decode_table(spark, out, where=("id", 0, 120))
    assert dec.filter(F.col("id") <= 120).count() == 121
    assert calls == [] and 1 <= len(opened) <= 2, (calls, opened)


if __name__ == "__main__":
    import sys
    import tempfile

    from sparkcodec.session import get_spark

    with tempfile.TemporaryDirectory() as root:
        spark = get_spark(cores=8, app_name="write-parity",
                          driver_memory="16g")
        data = capture(spark, root)
    with open(sys.argv[1], "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
