"""End-to-end engine tests: encode → decode → verify, size gate, resume.

The Spark analog of the reference's fixture chain (touch2parquet →
parquet2hdf5 → libsonata round-trip, tests/CMakeLists.txt:13-43 +
tests/test_integration.py:77-101 in /root/reference).
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from sparkcodec.engine import (
    blocks_stats,
    completed_parts,
    decode_table,
    encode_table,
    read_lineage,
)
from sparkcodec.verify import size_gate, verify_roundtrip

KEY = ["repo", "path", "commit"]


@pytest.fixture(scope="module")
def encoded(spark, code_files_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc") / "code_files_enc")
    df = spark.createDataFrame(code_files_small.to_pandas())
    metrics = encode_table(spark, df, out, num_parts=8, target_part_rows=1000)
    return out, df, metrics


def test_encode_produces_blocks(encoded):
    out, _df, metrics = encoded
    assert metrics["parts_encoded"] >= 1
    assert metrics["n_rows"] == 5000
    assert metrics["enc_bytes"] > 0
    files = glob.glob(os.path.join(out, "blocks", "col=*", "part_*.parquet"))
    assert files
    cols = {os.path.basename(os.path.dirname(f)) for f in files}
    assert cols == {
        "col=repo", "col=path", "col=commit", "col=lang", "col=content", "col=_checkpoint",
    }


def test_roundtrip_sha256(spark, encoded):
    out, df, _ = encoded
    decoded = decode_table(spark, out)
    report = verify_roundtrip(df, decoded, KEY)
    assert report["ok"], report


def test_column_pruned_decode(spark, encoded):
    out, df, _ = encoded
    langs = decode_table(spark, out, columns=["lang"])
    got = {r["lang"] for r in langs.distinct().collect()}
    want = {r["lang"] for r in df.select("lang").distinct().collect()}
    assert got == want
    assert langs.count() == 5000


def test_codec_routing(spark, encoded):
    out, _df, _ = encoded
    by_col = {}
    for r in blocks_stats(spark, out).collect():
        by_col.setdefault(r["col"], set()).add(r["codec"])
    # north-rule routes: low-cardinality -> dict, content -> fsst
    assert all(c.startswith("dict") for c in by_col["lang"]), by_col
    assert all(c.startswith("dict") for c in by_col["repo"]), by_col
    assert any(c.startswith("fsst") for c in by_col["content"]), by_col


def test_lineage(spark, encoded):
    out, _df, metrics = encoded
    lin = read_lineage(spark, out).collect()
    assert len(lin) == metrics["parts_encoded"]
    rec = json.loads(lin[0]["lineage"])
    assert set(rec) >= {"part_id", "codecs", "symbol_tables", "raw_bytes", "enc_bytes", "input_files"}
    assert set(rec["codecs"]) == {"repo", "path", "commit", "lang", "content"}


def test_size_gate(spark, encoded, tmp_path):
    out, df, _ = encoded
    gate = size_gate(spark, df, out, str(tmp_path / "zstd_baseline"))
    assert gate["enc_le_zstd"], gate
    assert gate["ratio_vs_raw"] > 1.5, gate


def test_resume_skips_done_and_completes_missing(spark, code_files_small, tmp_path):
    out = str(tmp_path / "enc2")
    df = spark.createDataFrame(code_files_small.to_pandas())
    m1 = encode_table(spark, df, out, num_parts=6, target_part_rows=1000)
    done = completed_parts(out)
    assert len(done) == m1["parts_encoded"]
    # simulate a crash that lost one part: remove its checkpoint + one column
    victim = sorted(done)[0]
    os.remove(os.path.join(out, "blocks", "col=_checkpoint", f"part_{victim:06d}.parquet"))
    os.remove(os.path.join(out, "blocks", "col=content", f"part_{victim:06d}.parquet"))
    m2 = encode_table(spark, df, out, num_parts=6, target_part_rows=1000)
    assert m2["parts_encoded"] == 1, m2
    assert m2["parts_skipped"] == len(done) - 1
    decoded = decode_table(spark, out)
    report = verify_roundtrip(df, decoded, KEY)
    assert report["ok"], report
    # full rerun: nothing to do
    m3 = encode_table(spark, df, out, num_parts=6, target_part_rows=1000)
    assert m3["parts_encoded"] == 0


def test_skew_fanout(spark, code_files_small, tmp_path):
    """The giant repo (~30% of rows) must spread over multiple parts."""
    out = str(tmp_path / "enc3")
    df = spark.createDataFrame(code_files_small.to_pandas())
    encode_table(spark, df, out, num_parts=16, target_part_rows=300)
    lin = read_lineage(spark, out).collect()
    giant_parts = 0
    for r in lin:
        rec = json.loads(r["lineage"])
        giant_parts += 1
    # with target 300 rows and ~1500 rows in the giant repo, it needs >=5 parts
    rows_per_part = sorted(r["n_rows"] for r in lin)
    assert len(lin) >= 8
    assert rows_per_part[-1] < 5000 * 0.30, "giant repo not fanned out"


def test_aligned_layout_roundtrip(spark, code_files_small, tmp_path):
    """Zero-shuffle layout: parts = input splits; round-trip still exact."""
    src = str(tmp_path / "src_parquet")
    spark.createDataFrame(code_files_small.to_pandas()).repartition(6).write.parquet(src)
    df = spark.read.parquet(src)
    out = str(tmp_path / "enc_aligned")
    m = encode_table(spark, df, out, layout="aligned")
    assert m["n_rows"] == 5000
    decoded = decode_table(spark, out)
    report = verify_roundtrip(df, decoded, KEY)
    assert report["ok"], report
    # resume: all parts complete -> nothing encoded
    m2 = encode_table(spark, df, out, layout="aligned")
    assert m2["parts_encoded"] == 0 and m2["parts_skipped"] == m["parts_encoded"]


def test_aligned_resume_guard(spark, code_files_small, tmp_path):
    """Resuming an aligned run over a changed input plan must refuse."""
    src = str(tmp_path / "src_a")
    spark.createDataFrame(code_files_small.to_pandas()).repartition(4).write.parquet(src)
    df = spark.read.parquet(src)
    out = str(tmp_path / "enc_guard")
    encode_table(spark, df, out, layout="aligned")
    # different file set -> different fingerprint -> refuse resume
    src2 = str(tmp_path / "src_b")
    spark.createDataFrame(code_files_small.to_pandas()).repartition(5).write.parquet(src2)
    df2 = spark.read.parquet(src2)
    with pytest.raises(ValueError, match="resume refused"):
        encode_table(spark, df2, out, layout="aligned")


def test_numeric_table_roundtrip(spark, tmp_path):
    """Reference-shaped numeric table (FIXTURES.md §2: narrow ints +
    floats + derived id) through the full engine — exercises FoR/RLE/
    bitpack routing and float raw paths end to end."""
    import pandas as pd
    import numpy as np

    from sparkcodec.binsource import synthesize_records
    from sparkcodec.engine import blocks_stats

    rec = synthesize_records(20000, version=2, seed=9)
    pdf = pd.DataFrame({n: rec[n] for n in rec.dtype.names if not n.startswith("_")})
    pdf["synapse_id"] = pdf["pre_gid"].astype("int64") * (1 << 24) + pdf.groupby("pre_gid").cumcount()
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "enc_num")
    m = encode_table(
        spark, df, out,
        cluster_by=["pre_gid"], salt_by=["synapse_id"], sort_by=["pre_gid", "synapse_id"],
        num_parts=8, target_part_rows=4000,
    )
    assert m["n_rows"] == 20000
    decoded = decode_table(spark, out)
    report = verify_roundtrip(df, decoded, ["synapse_id"], content_cols=[])
    # no string columns: rely on checksum + row counts
    assert report["rows_decoded"] == 20000
    assert report["checksum_original"] == report["checksum_decoded"]
    # narrow ints must land on integer codecs, not raw
    routes = {r["col"]: r["codec"] for r in blocks_stats(spark, out).collect()}
    for c in ("pre_gid", "pre_section", "branch_order"):
        assert routes[c].split("+")[0] in {"for", "rle", "bitpack"}, routes


def test_resume_config_guard(spark, code_files_small, tmp_path):
    """Resume under a different partitioning config must refuse."""
    out = str(tmp_path / "enc_cfg")
    df = spark.createDataFrame(code_files_small.to_pandas())
    encode_table(spark, df, out, num_parts=6, target_part_rows=1000)
    with pytest.raises(ValueError, match="resume refused"):
        encode_table(spark, df, out, num_parts=12, target_part_rows=1000)
    # resume=False overrides cleanly
    m = encode_table(spark, df, out, num_parts=12, target_part_rows=1000, resume=False)
    assert m["n_rows"] == 5000


def test_divergent_block_grids_roundtrip(spark, code_files_small, tmp_path):
    """Regression: the byte cap splits wide columns into more blocks than
    narrow ones within the same part — decode must reassemble per column
    (caught live via spark-submit with one big part)."""
    out = str(tmp_path / "enc_grid")
    df = spark.createDataFrame(code_files_small.to_pandas())
    # one part, tiny byte cap: content gets many blocks, lang gets one
    m = encode_table(
        spark, df, out, num_parts=1, target_part_rows=10**9,
        block_bytes=1 << 18, resume=False,
    )
    assert m["parts_encoded"] == 1
    stats = {r["col"]: r["n_blocks"] for r in blocks_stats(spark, out).collect()}
    assert stats["content"] > stats["lang"], stats
    report = verify_roundtrip(df, decode_table(spark, out), KEY)
    assert report["ok"], report


def test_fresh_run_clears_stale_parts(spark, code_files_small, tmp_path):
    """Review finding: resume=False over an out_dir with more parts than
    the new config must not blend stale parts into decode output."""
    out = str(tmp_path / "enc_stale")
    df = spark.createDataFrame(code_files_small.to_pandas())
    encode_table(spark, df, out, num_parts=8, target_part_rows=1000)
    encode_table(spark, df, out, num_parts=2, target_part_rows=10**9, resume=False)
    decoded = decode_table(spark, out)
    assert decoded.count() == 5000  # not 5000 + stale rows
    report = verify_roundtrip(df, decoded, KEY)
    assert report["ok"], report


def test_nullable_bool_and_null_content(spark, tmp_path):
    """Review findings: nullable bool fill + null-safe content compare."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "k": [1, 2, 3, 4],
            "flag": pd.array([True, None, False, True], dtype="boolean"),
            "txt": ["a", None, "c", None],
        }
    )
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "enc_nulls")
    encode_table(spark, df, out, cluster_by=None, salt_by=["k"], sort_by=["k"], num_parts=2)
    decoded = decode_table(spark, out)
    report = verify_roundtrip(df, decoded, ["k"])
    assert report["ok"], report


def test_encode_determinism(spark, code_files_small, tmp_path):
    """Same input + config => byte-identical block trees (the property
    resume and lineage depend on)."""
    import hashlib

    df = spark.createDataFrame(code_files_small.to_pandas())

    def tree_hash(d):
        h = hashlib.sha256()
        for root, _dirs, files in sorted(os.walk(d)):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    h.update(f.encode())
                    h.update(open(os.path.join(root, f), "rb").read())
        return h.hexdigest()

    hashes = []
    for name in ("det_a", "det_b"):
        out = str(tmp_path / name)
        encode_table(spark, df, out, num_parts=6, target_part_rows=1000, resume=False)
        hashes.append(tree_hash(os.path.join(out, "blocks")))
    assert hashes[0] == hashes[1]


def test_u64_table_decodes_as_int64_bitview(spark, tmp_path):
    """Engine-level u64 round trip: a blocks table whose meta records u64
    (built via the codec API — Spark itself cannot carry unsigned, which
    is exactly why decode must down-convert deterministically) decodes
    to the int64 bit view, including values >= 2^63."""
    import json

    import numpy as np
    import pyarrow as pa

    from sparkcodec.codecs import encode_array
    from sparkcodec.engine import _atomic_write_blocks, _part_file, decode_table

    out = str(tmp_path / "u64tab")
    vals = np.array([0, 1, 2**63, 2**64 - 1, 12345], dtype=np.uint64)
    arr = pa.array(vals, type=pa.uint64())
    payload, meta = encode_array(arr, "for")
    _atomic_write_blocks(
        _part_file(out, "v", 0),
        [{
            "col": "v", "part_id": 0, "block_id": 0, "codec": "for",
            "n_rows": len(arr), "raw_bytes": arr.nbytes, "enc_bytes": len(payload),
            "meta": json.dumps(meta), "payload": payload,
        }],
    )
    _atomic_write_blocks(
        _part_file(out, "_checkpoint", 0),
        [{
            "col": "_checkpoint", "part_id": 0, "block_id": 0, "codec": "",
            "n_rows": len(arr), "raw_bytes": arr.nbytes, "enc_bytes": len(payload),
            "meta": "{}", "payload": b"",
        }],
    )
    with open(f"{out}/_table_meta.json", "w") as fh:
        json.dump({"schema": {"v": "u64"}, "columns": ["v"]}, fh)
    got = sorted(r["v"] for r in decode_table(spark, out).collect())
    want = sorted(int(v) for v in vals.view(np.int64))
    assert got == want


def test_resume_refused_on_changed_target_part_rows(spark, code_files_small, tmp_path):
    """target_part_rows drives the skew fan-out salt, so resuming under a
    different value must refuse like num_parts/layout changes do."""
    import pytest as _pytest

    from sparkcodec.engine import encode_table

    df = spark.createDataFrame(code_files_small.to_pandas())
    out = str(tmp_path / "tpr")
    encode_table(spark, df, out, num_parts=4, target_part_rows=10_000, resume=False)
    with _pytest.raises(ValueError, match="resume refused"):
        encode_table(spark, df, out, num_parts=4, target_part_rows=500, resume=True)


def test_field_metadata_roundtrip(spark, tmp_path):
    """P7: field-level metadata (enumeration_values) survives encode->decode."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import decode_table, encode_table

    md = {"enumeration_values": ["python", "rust", "go"]}
    df = (
        spark.range(100)
        .select(
            F.col("id"),
            (F.col("id") % 3).cast("int").alias("lang_code"),
        )
        .withMetadata("lang_code", md)
    )
    out = str(tmp_path / "mdtab")
    encode_table(spark, df, out, cluster_by=["lang_code"], salt_by=["id"],
                 sort_by=["lang_code", "id"], num_parts=2, resume=False)
    dec = decode_table(spark, out)
    assert dec.schema["lang_code"].metadata == md
    assert dec.count() == 100


def test_encode_progress_snapshots(spark, code_files_small, tmp_path):
    """T5: the checkpoint-file progress surface counts completed parts."""
    from sparkcodec.engine import encode_progress, encode_table

    df = spark.createDataFrame(code_files_small.to_pandas())
    out = str(tmp_path / "prog")
    assert encode_progress(out)["parts_done"] == 0
    encode_table(spark, df, out, num_parts=4, resume=False)
    snap = encode_progress(out)
    assert snap["parts_done"] >= 1
    assert snap["parts_total"] == 4
    assert snap["rows_done"] == df.count()
    assert 0 < snap["fraction"] <= 1.0


def test_append_snapshots_and_time_travel(spark, tmp_path):
    """Iceberg-style appends: each run commits a snapshot; decode reads
    the latest by default and any snapshot by id; an uncommitted orphan
    part is invisible to snapshot readers."""
    import json as _json

    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        _atomic_write_blocks,
        _part_file,
        decode_table,
        encode_table,
        snapshot_parts,
        snapshots,
        encode_array,
    )

    out = str(tmp_path / "snap")
    d1 = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    d2 = spark.range(100, 150).select(F.col("id"), (F.col("id") * 2).alias("v"))
    encode_table(spark, d1, out, cluster_by=["id"], salt_by=["v"], num_parts=3,
                 target_part_rows=50, resume=False)
    encode_table(spark, d2, out, cluster_by=["id"], salt_by=["v"], num_parts=2,
                 target_part_rows=50, append=True)
    snaps = snapshots(out)
    assert [s["id"] for s in snaps] == [1, 2]
    assert snaps[1]["parent"] == 1
    p1, p2 = snapshot_parts(out, 1), snapshot_parts(out, 2)
    assert set(p1) < set(p2)  # snapshot 2 = snapshot 1 + new parts
    assert min(set(p2) - set(p1)) > max(p1)  # appended ids above existing
    assert decode_table(spark, out).count() == 150  # latest
    assert decode_table(spark, out, snapshot_id=1).count() == 100
    assert decode_table(spark, out, snapshot_id=2).count() == 150
    got = sorted(r["id"] for r in decode_table(spark, out, snapshot_id=1).collect())
    assert got == list(range(100))

    # orphan part (checkpointed but never committed to a snapshot) is
    # invisible to snapshot readers
    import numpy as np
    import pyarrow as pa

    payload, meta = encode_array(pa.array(np.arange(5, dtype=np.int64)), "for")
    for col in ("id", "v", "_checkpoint"):
        _atomic_write_blocks(
            _part_file(out, col, 999),
            [{
                "col": col, "part_id": 999, "block_id": 0, "codec": "for",
                "n_rows": 5, "raw_bytes": 40, "enc_bytes": len(payload),
                "meta": _json.dumps(meta), "payload": payload,
            }],
        )
    assert decode_table(spark, out).count() == 150


def test_append_refuses_schema_change(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import encode_table

    out = str(tmp_path / "snapschema")
    d1 = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    d2 = spark.range(10).select(F.col("id"), F.lit("text").alias("v"))
    encode_table(spark, d1, out, num_parts=2, resume=False)
    with _pytest.raises(ValueError, match="append refused"):
        encode_table(spark, d2, out, num_parts=2, append=True)


def test_append_resume_refuses_config_change(spark, tmp_path):
    import json as _json

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import encode_table

    out = str(tmp_path / "snapresume")
    d1 = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    encode_table(spark, d1, out, num_parts=2, resume=False)
    # simulate an interrupted append with a different partitioning config
    with open(f"{out}/_pending_append.json", "w") as fh:
        _json.dump({"base": 2, "config": {"num_parts": 99}}, fh)
    with _pytest.raises(ValueError, match="append resume refused"):
        encode_table(spark, d1, out, num_parts=2, append=True, resume=True)


# ---------------------------------------------------------------------------
# zone maps + part pruning


def test_zone_maps_recorded(encoded):
    from sparkcodec.engine import part_stats

    out, _df, _m = encoded
    stats = part_stats(out)
    assert stats, "no part stats recorded"
    some = next(iter(stats.values()))
    # cluster key gets exact short-string bounds; every bound is [min, max]
    assert "repo" in some and some["repo"][0] <= some["repo"][1]
    for col_bounds in stats.values():
        for mn, mx in col_bounds.values():
            assert mn <= mx


def test_decode_where_prunes_and_is_conservative(spark, encoded):
    from sparkcodec.engine import completed_parts, prune_parts

    out, df, _m = encoded
    target = df.select("repo").distinct().orderBy("repo").first()["repo"]
    all_parts = sorted(completed_parts(out))
    kept = prune_parts(out, ("repo", target, target), all_parts)
    assert 0 < len(kept) < len(all_parts), (len(kept), len(all_parts))

    dec = decode_table(spark, out, where=("repo", target, target))
    got = dec.filter(dec.repo == target).orderBy("path", "commit")
    want = df.filter(df.repo == target).select(*dec.columns).orderBy("path", "commit")
    assert [r.asDict() for r in got.collect()] == [r.asDict() for r in want.collect()]

    # a column without stats (long text) must keep every part
    kept_all = prune_parts(out, ("content", "x", "x"), all_parts)
    assert kept_all == all_parts

    # an impossible range prunes everything and still decodes (empty)
    assert decode_table(spark, out, where=("repo", "zzzz", "zzzz")).count() == 0


def test_decode_where_numeric_range(spark, tmp_path):
    import pandas as pd

    out = str(tmp_path / "enc_num")
    pdf = pd.DataFrame({"k": list(range(10000)), "v": [i * 2.5 for i in range(10000)]})
    df = spark.createDataFrame(pdf)
    encode_table(
        spark, df, out, cluster_by=["k"], salt_by=None, sort_by=["k"],
        num_parts=8, target_part_rows=2000, resume=False,
    )
    dec = decode_table(spark, out, where=("k", 100, 120)).filter("k BETWEEN 100 AND 120")
    assert dec.count() == 21
    assert dec.agg({"v": "sum"}).collect()[0][0] == sum(i * 2.5 for i in range(100, 121))


def test_block_level_pruning_alignment(spark, tmp_path):
    """Block zone maps must prune payload decode while keeping every
    column aligned — including when block grids diverge (wide string
    column split finer by the byte cap than the int column)."""
    import pandas as pd

    out = str(tmp_path / "enc_blk")
    n = 20000
    pdf = pd.DataFrame(
        {
            "k": list(range(n)),
            "v": [i * 3 for i in range(n)],
            "s": [f"payload_{i}_" + "x" * 300 for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)
    encode_table(
        spark, df, out,
        cluster_by=None, salt_by=None, sort_by=["k"],
        num_parts=2, target_part_rows=n, block_rows=1000,
        block_bytes=200 << 10,  # forces finer splitting of `s` than `k`
        resume=False,
    )
    dec = decode_table(spark, out, where=("k", 5000, 5400))
    rows = dec.collect()
    # superset semantics, but pruned: far fewer than all rows decoded
    assert 401 <= len(rows) < n // 2, len(rows)
    # alignment: every returned row must be a true source row
    for r in rows:
        assert r.v == r.k * 3
        assert r.s.startswith(f"payload_{r.k}_")
    exact = sorted(r.k for r in rows if 5000 <= r.k <= 5400)
    assert exact == list(range(5000, 5401))
    # predicate column not in the requested output still prunes
    dec2 = decode_table(spark, out, columns=["v"], where=("k", 0, 99))
    vs = sorted(r.v for r in dec2.collect())
    assert len(vs) < n // 2 and vs[:100] == [i * 3 for i in range(100)]


def test_block_pruning_conservative_without_stats(spark, encoded):
    # long-text predicate: no block stats anywhere -> full decode
    out, df, _m = encoded
    assert decode_table(spark, out, where=("content", "a", "b")).count() == df.count()


def test_python_datasource_reader(spark, encoded):
    """spark.read.format('sparkcodec'): schema from table meta, Catalyst
    filters pushed into zone-map pruning, results identical to source."""
    from sparkcodec.datasource import SparkcodecDataSource

    out, df, _m = encoded
    spark.dataSource.register(SparkcodecDataSource)
    ds = spark.read.format("sparkcodec").load(out)
    assert set(ds.columns) == set(df.columns)
    assert ds.count() == df.count()

    target = df.select("repo").distinct().orderBy("repo").first()["repo"]
    got = ds.filter(ds.repo == target).orderBy("path", "commit").collect()
    want = (
        df.filter(df.repo == target)
        .select(*ds.columns)
        .orderBy("path", "commit")
        .collect()
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    # range + conjunction across columns
    some_path = want[0]["path"]
    got2 = ds.filter((ds.repo == target) & (ds.path <= some_path)).count()
    want2 = df.filter((df.repo == target) & (df.path <= some_path)).count()
    assert got2 == want2
    # isin pushes down as a [min(values), max(values)] bound
    repos = [r["repo"] for r in df.select("repo").distinct().orderBy("repo").limit(2).collect()]
    got3 = ds.filter(ds.repo.isin(repos)).count()
    want3 = df.filter(df.repo.isin(repos)).count()
    assert got3 == want3
    # startswith pushes down as a [prefix, next-prefix) bound
    pref = target[: max(1, len(target) - 2)]
    got4 = ds.filter(ds.repo.startswith(pref)).count()
    want4 = df.filter(df.repo.startswith(pref)).count()
    assert got4 == want4


def test_python_datasource_snapshot_option(spark, tmp_path):
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import encode_table, snapshots

    out = str(tmp_path / "ds_snap")
    d1 = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    d2 = spark.range(100, 150).select(F.col("id"), (F.col("id") * 2).alias("v"))
    encode_table(spark, d1, out, cluster_by=["id"], salt_by=["v"], num_parts=2,
                 target_part_rows=50, resume=False)
    encode_table(spark, d2, out, cluster_by=["id"], salt_by=["v"], num_parts=2,
                 target_part_rows=50, append=True)
    spark.dataSource.register(SparkcodecDataSource)
    first_id = snapshots(out)[0]["id"]
    assert spark.read.format("sparkcodec").load(out).count() == 150
    assert (
        spark.read.format("sparkcodec")
        .option("snapshot_id", str(first_id))
        .load(out)
        .count()
        == 100
    )


def test_python_datasource_stream_tails_snapshots(spark, tmp_path):
    """readStream.format('sparkcodec'): each micro-batch delivers exactly
    the parts of newly committed snapshots; checkpointed offsets skip
    already-consumed snapshots on restart."""
    import time as _time

    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import encode_table

    out = str(tmp_path / "ds_stream")
    ckpt = str(tmp_path / "ds_stream_ckpt")
    d1 = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    d2 = spark.range(100, 150).select(F.col("id"), (F.col("id") * 2).alias("v"))
    encode_table(spark, d1, out, cluster_by=["id"], salt_by=["v"], num_parts=2,
                 target_part_rows=50, resume=False)
    encode_table(spark, d2, out, cluster_by=["id"], salt_by=["v"], num_parts=2,
                 target_part_rows=50, append=True)
    spark.dataSource.register(SparkcodecDataSource)

    sink = str(tmp_path / "ds_stream_sink")

    def drain():
        q = (
            spark.readStream.format("sparkcodec").load(out)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(sink)

    got = drain()
    assert got.count() == 150
    assert got.agg(F.sum("v")).collect()[0][0] == sum(i * 2 for i in range(150))

    # a third append becomes the next (and only new) batch after restart
    d3 = spark.range(150, 170).select(F.col("id"), (F.col("id") * 2).alias("v"))
    encode_table(spark, d3, out, cluster_by=["id"], salt_by=["v"], num_parts=1,
                 target_part_rows=50, append=True)
    got2 = drain()
    assert got2.count() == 170  # only the 20 new rows were appended
    assert sorted(r.id for r in got2.collect()) == list(range(170))

    # compaction rewrites existing rows — the changefeed must NOT replay
    # its merged parts as new data
    from sparkcodec.engine import compact_table

    compact_table(spark, out, target_part_rows=100000)
    got3 = drain()
    assert got3.count() == 170, "compaction snapshot was replayed to the stream"


def test_python_datasource_writer_roundtrip(spark, tmp_path):
    """df.write.format('sparkcodec'): per-task aligned parts + one
    snapshot on commit; append grows the snapshot chain; decode and the
    DS reader both see exactly the committed data."""
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import decode_table, snapshots

    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "ds_written")
    d1 = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("g"), F.concat(F.lit("t"), F.col("id")).alias("s")
    )
    d1.repartition(4).write.format("sparkcodec").mode("append").save(out)
    assert len(snapshots(out)) == 1
    back = decode_table(spark, out)
    assert back.count() == 1000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(1000))

    d2 = spark.range(1000, 1200).select(
        F.col("id"), (F.col("id") % 7).alias("g"), F.concat(F.lit("t"), F.col("id")).alias("s")
    )
    d2.write.format("sparkcodec").mode("append").save(out)
    assert len(snapshots(out)) == 2
    ds = spark.read.format("sparkcodec").load(out)
    assert ds.count() == 1200
    got = sorted(r.s for r in ds.filter(ds.id >= 1190).collect())
    assert got == [f"t{i}" for i in range(1190, 1200)]

    # schema mismatch refused
    import pytest as _pytest

    # optional-column evolution: adding/omitting columns is allowed, but
    # RETYPING a shared column is still refused
    bad = spark.range(5).select(F.col("id").cast("string").alias("id"))
    with _pytest.raises(Exception, match="shared columns change|append refused"):
        bad.write.format("sparkcodec").mode("append").save(out)


def test_compaction_and_expiry(spark, tmp_path):
    """compact_table merges small live parts into a new snapshot (old
    snapshots stay time-travelable); expire_snapshots reclaims the files
    and squashes the log."""
    import glob as _glob

    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        compact_table,
        decode_table,
        encode_table,
        expire_snapshots,
        snapshot_parts,
        snapshots,
    )

    out = str(tmp_path / "compact")
    df = spark.range(5000).select(
        F.col("id"), (F.col("id") % 13).alias("g"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"], sort_by=["g", "id"],
                 num_parts=20, target_part_rows=250, resume=False)
    pre_parts = snapshot_parts(out)
    assert len(pre_parts) >= 10

    rep = compact_table(spark, out, target_part_rows=2500)
    assert rep["parts_removed"] >= 4 and rep["parts_created"] < rep["parts_removed"]
    post_parts = snapshot_parts(out)
    assert len(post_parts) < len(pre_parts)

    # identical data, and the pre-compaction snapshot still resolves
    dec = decode_table(spark, out)
    assert dec.count() == 5000
    assert dec.agg(F.sum("id")).collect()[0][0] == sum(range(5000))
    assert sorted(r.s for r in dec.filter(dec.id < 5).collect()) == [f"v{i}" for i in range(5)]
    first_id = snapshots(out)[0]["id"]
    assert decode_table(spark, out, snapshot_id=first_id).count() == 5000

    # zone maps survive compaction (pruning still effective)
    from sparkcodec.engine import prune_parts

    kept = prune_parts(out, ("g", 0, 0), post_parts)
    assert len(kept) < len(post_parts)

    # expiry: old part files deleted, latest snapshot still decodes
    n_files_before = len(_glob.glob(f"{out}/blocks/col=*/part_*.parquet"))
    er = expire_snapshots(out, keep_last=1)
    assert er["files_deleted"] > 0
    n_files_after = len(_glob.glob(f"{out}/blocks/col=*/part_*.parquet"))
    assert n_files_after < n_files_before
    assert decode_table(spark, out).count() == 5000
    # time travel beyond the retained window is gone
    import pytest as _pytest

    with _pytest.raises(Exception):
        decode_table(spark, out, snapshot_id=first_id).count()


def test_compact_legacy_table_keeps_untouched_parts(spark, tmp_path):
    """Compacting a pre-snapshot table must root the log with the FULL
    live set — singleton groups left alone must not vanish."""
    import os as _os

    from pyspark.sql import functions as F

    from sparkcodec.engine import compact_table, decode_table, encode_table

    out = str(tmp_path / "legacy")
    df = spark.range(3000).select(F.col("id"), (F.col("id") % 5).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"], num_parts=12,
                 target_part_rows=250, resume=False)
    _os.remove(_os.path.join(out, "_snapshots.jsonl"))  # simulate legacy table
    rep = compact_table(spark, out, target_part_rows=700)
    assert rep["parts_removed"] > 0
    dec = decode_table(spark, out)
    assert dec.count() == 3000
    assert dec.agg(F.sum("id")).collect()[0][0] == sum(range(3000))


def test_u64_columns_never_pruned():
    """u64 decodes as the int64 bit view, which is not monotone in the
    unsigned order (values >= 2^63 wrap negative), so zone maps must not
    exist for uint64 arrays — no stats means pruning can never drop a
    matching part. Narrower unsigned types widen monotonically and keep
    their stats."""
    import pyarrow as _pa

    from sparkcodec.engine import _part_col_stats

    vals = [0, 1, 2**63, 2**64 - 1, 12345]
    assert _part_col_stats(_pa.array(vals, type=_pa.uint64())) is None
    assert _part_col_stats(_pa.array([1, 2, 255], type=_pa.uint8())) == [1, 255]


def test_stream_after_expiry_delivers_all_rows(spark, tmp_path):
    """After expire_snapshots squashes a compaction into the root, a
    FRESH changefeed consumer must still receive every row (the squashed
    root is no longer a compaction delta)."""
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import compact_table, encode_table, expire_snapshots

    out = str(tmp_path / "exp_stream")
    df = spark.range(800).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"], num_parts=6,
                 target_part_rows=150, resume=False)
    compact_table(spark, out, target_part_rows=10000)
    expire_snapshots(out, keep_last=1)
    spark.dataSource.register(SparkcodecDataSource)
    sink = str(tmp_path / "exp_sink")
    q = (
        spark.readStream.format("sparkcodec").load(out)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", str(tmp_path / "exp_ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    assert got.count() == 800
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(800))


def test_append_to_legacy_table_roots_full_live_set(spark, tmp_path):
    """append=True onto a pre-snapshot table (no _snapshots.jsonl): the
    first committed snapshot must carry the legacy base parts too, or
    snapshot-resolving readers silently drop every base-table row."""
    import os as _os

    from pyspark.sql import functions as F

    from sparkcodec.engine import decode_table, encode_table, snapshot_parts

    out = str(tmp_path / "legacy_append")
    d1 = spark.range(200).select(F.col("id"), (F.col("id") % 3).alias("g"))
    d2 = spark.range(200, 260).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, d1, out, cluster_by=["g"], salt_by=["id"], num_parts=4,
                 target_part_rows=60, resume=False)
    _os.remove(_os.path.join(out, "_snapshots.jsonl"))  # simulate legacy table
    encode_table(spark, d2, out, cluster_by=["g"], salt_by=["id"], num_parts=2,
                 target_part_rows=60, append=True)
    live = snapshot_parts(out)
    dec = decode_table(spark, out)
    assert dec.count() == 260, (live, dec.count())
    assert dec.agg(F.sum("id")).collect()[0][0] == sum(range(260))


def test_ds_write_to_legacy_table_roots_full_live_set(spark, tmp_path):
    """df.write.format('sparkcodec') onto a pre-snapshot table: same
    legacy-rooting rule as encode_table(append=True)."""
    import os as _os

    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import decode_table, encode_table

    out = str(tmp_path / "legacy_ds_write")
    d1 = spark.range(150).select(F.col("id"), (F.col("id") * 3).alias("v"))
    encode_table(spark, d1, out, cluster_by=["id"], salt_by=["v"], num_parts=3,
                 target_part_rows=60, resume=False)
    _os.remove(_os.path.join(out, "_snapshots.jsonl"))  # simulate legacy table
    spark.dataSource.register(SparkcodecDataSource)
    d2 = spark.range(150, 180).select(F.col("id"), (F.col("id") * 3).alias("v"))
    d2.repartition(2).write.format("sparkcodec").mode("append").save(out)
    dec = decode_table(spark, out)
    assert dec.count() == 180
    assert dec.agg(F.sum("id")).collect()[0][0] == sum(range(180))


def test_block_prune_type_mismatch_is_conservative(spark, tmp_path):
    """A where-bound whose type mismatches the column's stats must keep
    the block (conservative), not raise TypeError inside executor tasks —
    the same guard prune_parts applies at part level."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import decode_table, encode_table

    out = str(tmp_path / "typeguard")
    df = spark.range(500).select(F.col("id"), (F.col("id") % 7).alias("v"))
    encode_table(spark, df, out, cluster_by=["v"], salt_by=["id"], num_parts=3,
                 target_part_rows=100, resume=False, block_rows=64)
    # string bound on an int column: parts survive conservatively and the
    # block-level pass must not blow up in the tasks
    dec = decode_table(spark, out, where=("id", "100", "200"))
    assert dec.count() == 500


def test_block_pruning_skips_bytes_not_just_decode(spark, tmp_path):
    """Blocks map 1:1 to parquet row groups, so block-level zone-map
    pruning must skip payload BYTES (read_row_groups), not merely decode
    calls — the analog of parquet row-group pruning / the reference's
    directory-seek reads."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        _IO_COUNTERS,
        _decode_column_ranges,
        _keep_row_ranges,
        _reset_io_counters,
        completed_parts,
        decode_table,
        encode_table,
    )

    out = str(tmp_path / "rgprune")
    # one part, sorted ids, small blocks -> many blocks with disjoint
    # [min, max] zone maps
    df = spark.range(4000).select(
        F.col("id"), F.concat(F.lit("text-"), F.col("id")).alias("txt")
    )
    encode_table(spark, df, out, cluster_by=None, salt_by=["id"], sort_by=["id"],
                 num_parts=1, resume=False, block_rows=256)
    [pid] = completed_parts(out)
    where = ("id", 1000, 1100)
    ranges = _keep_row_ranges(out, pid, where)
    assert ranges, "expected some blocks pruned, some kept"
    _reset_io_counters()
    import pyarrow as _pa

    arr = _decode_column_ranges(out, "id", pid, _pa.int64(), ranges)
    got = sorted(arr.to_pylist())
    assert set(range(1000, 1101)) <= set(got)
    assert _IO_COUNTERS["rg_total"] >= 10
    assert _IO_COUNTERS["rg_read"] < _IO_COUNTERS["rg_total"] / 2, _IO_COUNTERS
    assert _IO_COUNTERS["bytes_read"] < _IO_COUNTERS["bytes_total"] / 2, _IO_COUNTERS
    # end-to-end: the pruned decode still returns exact results
    dec = decode_table(spark, out, where=where).filter(F.col("id").between(1000, 1100))
    assert dec.count() == 101


def test_multi_predicate_where_intersects_and_reads_fewer_bytes(spark, tmp_path):
    """decode_table(where=[pred1, pred2]) must intersect the block row
    ranges of both predicates: the conjunction's byte-skip counters are
    strictly tighter than either predicate alone, and results stay exact."""
    import pyarrow as _pa

    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        _IO_COUNTERS,
        _decode_column_ranges,
        _keep_row_ranges,
        _keep_row_ranges_multi,
        _reset_io_counters,
        completed_parts,
        decode_table,
        encode_table,
    )

    out = str(tmp_path / "mpred")
    # a ascends, b descends: each predicate prunes a DIFFERENT band of
    # blocks, so the intersection is strictly smaller than either side
    df = spark.range(4000).select(
        F.col("id").alias("a"), (F.lit(3999) - F.col("id")).alias("b")
    )
    encode_table(spark, df, out, cluster_by=None, salt_by=["a"], sort_by=["a"],
                 num_parts=1, resume=False, block_rows=256)
    [pid] = completed_parts(out)
    wa = ("a", 1000, 2000)   # rows 1000..2000
    wb = ("b", 1500, 2500)   # rows 1499..2499
    ra = _keep_row_ranges(out, pid, wa)
    rb = _keep_row_ranges(out, pid, wb)
    rab = _keep_row_ranges_multi(out, pid, [wa, wb])
    cov = lambda rs: sum(hi - lo for lo, hi in rs)  # noqa: E731
    assert ra and rb and rab
    assert cov(rab) < cov(ra) and cov(rab) < cov(rb), (cov(ra), cov(rb), cov(rab))

    def bytes_for(ranges):
        _reset_io_counters()
        _decode_column_ranges(out, "a", pid, _pa.int64(), ranges)
        _decode_column_ranges(out, "b", pid, _pa.int64(), ranges)
        return _IO_COUNTERS["bytes_read"]

    b_ab, b_a, b_b = bytes_for(rab), bytes_for(ra), bytes_for(rb)
    assert b_ab < b_a and b_ab < b_b, (b_ab, b_a, b_b)
    # end-to-end: conjunction decode is exact after the residual filter
    dec = decode_table(spark, out, where=[wa, wb]).filter(
        F.col("a").between(1000, 2000) & F.col("b").between(1500, 2500)
    )
    assert dec.count() == 502  # ids 1499..2000 (b=3999-id, b<=2500 -> id>=1499)
    # single-tuple where still accepted (back-compat)
    assert decode_table(spark, out, where=wa).filter(
        F.col("a").between(1000, 2000)
    ).count() == 1001


def test_multi_predicate_where_part_pruning(spark, tmp_path):
    """Part-level pruning applies every predicate: a conjunction whose
    point predicate value-set-prunes and whose range predicate zone-map
    prunes touches only parts surviving BOTH."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import decode_table, encode_table

    out = str(tmp_path / "mpredparts")
    df = spark.range(2000).select(
        F.col("id"),
        F.concat(F.lit("g"), (F.col("id") % 4)).alias("grp"),
    )
    encode_table(spark, df, out, cluster_by=["grp"], salt_by=["id"],
                 sort_by=["grp", "id"], num_parts=8, target_part_rows=300,
                 resume=False)
    dec = decode_table(spark, out, where=[("grp", "g1", "g1"), ("id", 100, 400)])
    exact = dec.filter((F.col("grp") == "g1") & F.col("id").between(100, 400))
    assert exact.count() == 75  # ids 101,105,...397: 4k+1 in [100,400]


def test_decode_legacy_single_rowgroup_files(spark, tmp_path):
    """Files written before the one-row-group-per-block layout (all block
    rows in one row group) still decode correctly through the pruned
    path (whole-file fallback)."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from pyspark.sql import functions as F

    from sparkcodec.engine import decode_table, encode_table

    out = str(tmp_path / "legacyrg")
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    encode_table(spark, df, out, cluster_by=None, salt_by=["id"], sort_by=["id"],
                 num_parts=1, resume=False, block_rows=256)
    # rewrite every blocks file as ONE row group (the legacy layout)
    import glob as _glob
    import os as _os

    for f in _glob.glob(_os.path.join(out, "blocks", "col=*", "part_*.parquet")):
        t = _pq.read_table(f)
        _pq.write_table(t, f, compression="none")
    dec = decode_table(spark, out, where=("id", 100, 300)).filter(
        F.col("id").between(100, 300)
    )
    assert dec.count() == 201
    assert decode_table(spark, out).count() == 2000


def test_delete_rows_rewrites_only_affected_parts(spark, tmp_path):
    """Row-level DELETE: zone maps bound the rewrite to overlapping parts,
    untouched parts keep their ids, earlier snapshots still time-travel,
    and the changefeed does not re-deliver rewritten rows."""
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import (
        decode_table,
        delete_rows,
        encode_table,
        snapshot_parts,
        snapshots,
    )

    out = str(tmp_path / "del")
    # cluster by bucket of id so parts have disjoint id ranges
    df = spark.range(4000).select(
        F.col("id"), (F.col("id") / 500).cast("int").alias("g"),
        F.concat(F.lit("t"), F.col("id")).alias("txt"),
    )
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"], sort_by=["g", "id"],
                 num_parts=8, target_part_rows=500, resume=False)
    before_parts = set(snapshot_parts(out))
    rep = delete_rows(spark, out, ("id", 1000, 1499))
    assert rep["rows_deleted"] == 500
    assert rep["parts_scanned"] < len(before_parts), rep  # zone maps pruned
    after_parts = set(snapshot_parts(out))
    # untouched parts keep their ids
    untouched = before_parts & after_parts
    assert untouched, (before_parts, after_parts)
    dec = decode_table(spark, out)
    assert dec.count() == 3500
    assert dec.filter(F.col("id").between(1000, 1499)).count() == 0
    assert dec.agg(F.sum("id")).collect()[0][0] == sum(range(4000)) - sum(range(1000, 1500))
    # time travel to the pre-delete snapshot
    first = snapshots(out)[0]["id"]
    assert decode_table(spark, out, snapshot_id=first).count() == 4000
    # deleting an absent range is a no-op (no new snapshot)
    n_snaps = len(snapshots(out))
    rep2 = delete_rows(spark, out, ("id", 100000, 200000))
    assert rep2["rows_deleted"] == 0
    assert len(snapshots(out)) == n_snaps
    # changefeed: a fresh consumer gets the ORIGINAL appended parts only
    # (delete snapshots are not replayed), never duplicates
    spark.dataSource.register(SparkcodecDataSource)
    sink = str(tmp_path / "del_sink")
    q = (
        spark.readStream.format("sparkcodec").load(out)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", str(tmp_path / "del_ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    assert got.count() == 4000  # the append-only feed (pre-delete rows)


def test_delete_rows_null_rows_survive(spark, tmp_path):
    """NULL never matches a range delete (SQL semantics)."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import decode_table, delete_rows, encode_table

    out = str(tmp_path / "delnull")
    df = spark.range(100).select(
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("v"),
        F.col("id"),
    )
    encode_table(spark, df, out, cluster_by=None, salt_by=["id"], sort_by=["id"],
                 num_parts=2, resume=False)
    rep = delete_rows(spark, out, ("v", 0, 200))
    assert rep["rows_deleted"] == 90
    dec = decode_table(spark, out)
    assert dec.count() == 10
    assert dec.filter(F.col("v").isNull()).count() == 10


def test_schema_evolution_add_column_append(spark, tmp_path):
    """Add-column appends: new columns decode as NULL for pre-evolution
    parts, filters behave (range never matches NULL; IS NOT NULL prunes
    old parts at block level), compaction backfills, and incompatible
    changes are still refused."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        compact_table,
        decode_table,
        encode_table,
    )

    out = str(tmp_path / "evolve")
    d1 = spark.range(300).select(F.col("id"), (F.col("id") * 2).alias("v"))
    d2 = spark.range(300, 400).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
        F.concat(F.lit("n"), F.col("id")).alias("note"),
    )
    encode_table(spark, d1, out, cluster_by=["id"], salt_by=["v"], num_parts=3,
                 target_part_rows=100, resume=False)
    encode_table(spark, d2, out, cluster_by=["id"], salt_by=["v"], num_parts=1,
                 target_part_rows=100, append=True)
    dec = decode_table(spark, out)
    assert dec.columns == ["id", "v", "note"]
    assert dec.count() == 400
    assert dec.filter(F.col("note").isNull()).count() == 300
    got = {r["id"]: r["note"] for r in dec.filter(F.col("note").isNotNull()).collect()}
    assert got == {i: f"n{i}" for i in range(300, 400)}
    # range predicate on the evolved column skips pre-evolution parts
    pruned = decode_table(spark, out, where=("note", "n300", "n400"))
    assert pruned.count() == 100
    # compaction backfills: merged parts carry the evolved column files
    compact_table(spark, out, target_part_rows=10_000)
    dec2 = decode_table(spark, out)
    assert dec2.count() == 400
    assert dec2.filter(F.col("note").isNull()).count() == 300
    # appending a SUBSET is allowed: the omitted columns are NULL for
    # the new rows (optional-column semantics, symmetric with add-column)
    d3 = spark.range(400, 410).select(F.col("id"))
    encode_table(spark, d3, out, cluster_by=["id"], num_parts=1,
                 target_part_rows=100, append=True)
    dec3 = decode_table(spark, out)
    assert dec3.count() == 410
    assert dec3.filter(F.col("id") >= 400).filter(F.col("v").isNull()).count() == 10
    # retyping is refused
    d4 = spark.range(400, 410).select(
        F.col("id"), F.col("id").cast("string").alias("v"),
        F.lit("x").alias("note"),
    )
    with _pytest.raises(ValueError, match="shared columns change"):
        encode_table(spark, d4, out, num_parts=1, append=True)


def test_schema_evolution_datasource_roundtrip(spark, tmp_path):
    """The DS writer accepts add-column appends (merging table meta) and
    the DS reader null-fills + prunes on the evolved column."""
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import encode_table

    out = str(tmp_path / "evolve_ds")
    d1 = spark.range(200).select(F.col("id"), (F.col("id") % 5).alias("g"))
    encode_table(spark, d1, out, cluster_by=["g"], salt_by=["id"], num_parts=2,
                 target_part_rows=100, resume=False)
    spark.dataSource.register(SparkcodecDataSource)
    d2 = spark.range(200, 250).select(
        F.col("id"), (F.col("id") % 5).alias("g"), (F.col("id") * 10).alias("w")
    )
    d2.repartition(1).write.format("sparkcodec").mode("append").save(out)
    ds = spark.read.format("sparkcodec").load(out)
    assert set(ds.columns) == {"id", "g", "w"}
    assert ds.count() == 250
    assert ds.filter(F.col("w").isNull()).count() == 200
    # IS NOT NULL on the evolved column prunes pre-evolution parts
    assert ds.filter(F.col("w").isNotNull()).count() == 50
    assert ds.filter(F.col("w") >= 2400).count() == 10


def test_upsert_rows_merge_by_key(spark, tmp_path):
    """MERGE: incoming rows replace same-key rows exactly (set
    membership, not range), new keys append, untouched parts keep ids."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import decode_table, encode_table, upsert_rows

    out = str(tmp_path / "upsert")
    d1 = spark.range(1000).select(
        F.col("id"), (F.col("id") / 200).cast("int").alias("g"),
        F.lit("old").alias("val"),
    )
    encode_table(spark, d1, out, cluster_by=["g"], salt_by=["id"], sort_by=["g", "id"],
                 num_parts=5, target_part_rows=200, resume=False)
    # update keys 100..109 and 950..954, insert 2000..2004
    up = spark.createDataFrame(
        [(k, k // 200, "new") for k in list(range(100, 110)) + list(range(950, 955))]
        + [(k, 10, "new") for k in range(2000, 2005)],
        "id long, g int, val string",
    )
    rep = upsert_rows(spark, up, out, "id",
                      cluster_by=["g"], salt_by=["id"], sort_by=["g", "id"],
                      num_parts=2, target_part_rows=200)
    assert rep["rows_deleted"] == 15
    assert rep["rows_appended"] == 20
    dec = decode_table(spark, out)
    assert dec.count() == 1005
    vals = {r["id"]: r["val"] for r in dec.collect()}
    for k in list(range(100, 110)) + list(range(950, 955)) + list(range(2000, 2005)):
        assert vals[k] == "new", k
    assert vals[99] == "old" and vals[110] == "old" and vals[949] == "old"
    # exact set membership: key 105 was updated but 105.5-ish neighbors
    # in the same zone-map span survive as old
    assert sum(1 for v in vals.values() if v == "new") == 20


def test_upsert_commits_one_atomic_snapshot(spark, tmp_path):
    """MERGE is ONE snapshot: the entry carries removed_parts (rewrites)
    + new_parts (rewrites ∪ appends) + append_parts + the merge id, and
    an interrupted merge (rewrites written, commit never reached) leaves
    readers on the complete pre-merge state — no
    delete-without-replacement window."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        _copy_on_write_delete,
        _plan_rewrite,
        decode_table,
        encode_table,
        snapshots,
        upsert_rows,
    )

    out = str(tmp_path / "upsert_atomic")
    d1 = spark.range(1000).select(
        F.col("id"), (F.col("id") / 200).cast("int").alias("g"),
        F.lit("old").alias("val"),
    )
    encode_table(spark, d1, out, cluster_by=["g"], salt_by=["id"], sort_by=["g", "id"],
                 num_parts=5, target_part_rows=200, resume=False)
    n0 = len(snapshots(out))

    # simulate a crash BETWEEN the rewrite and the commit: run the
    # rewrite with commit=False and stop — the upsert's actual first step
    plan = _plan_rewrite(out, [("id", 100, 109)])
    assert plan.parts

    def mask(tbl):
        import pyarrow.compute as pc

        v = tbl.column("id")
        return pc.and_kleene(
            pc.is_valid(v),
            pc.and_kleene(pc.greater_equal(v, 100), pc.less_equal(v, 109)),
        )

    rep = _copy_on_write_delete(
        spark, out, plan, mask, ["id", 100, 109], commit=False
    )
    assert rep["pending"]["removed_parts"], rep
    # reader still sees the COMPLETE pre-merge table, and the aborted
    # rewrite committed nothing (the table already had a snapshot log)
    assert decode_table(spark, out).count() == 1000
    assert len(snapshots(out)) == n0

    # now the real merge: exactly ONE new snapshot entry
    n1 = len(snapshots(out))
    up = spark.createDataFrame(
        [(k, k // 200, "new") for k in range(100, 110)]
        + [(k, 10, "new") for k in range(2000, 2005)],
        "id long, g int, val string",
    )
    upsert_rows(spark, up, out, "id",
                cluster_by=["g"], salt_by=["id"], sort_by=["g", "id"],
                num_parts=1, target_part_rows=200)
    snaps = snapshots(out)
    assert len(snaps) == n1 + 1, (n1, len(snaps))
    e = snaps[-1]
    assert e.get("merge") and e["removed_parts"] and e["new_parts"]
    assert set(e["append_parts"]) <= set(e["new_parts"])
    assert set(e["removed_parts"]).isdisjoint(e["new_parts"])
    dec = decode_table(spark, out)
    assert dec.count() == 1005
    assert dec.filter(F.col("val") == "new").count() == 15


def test_upsert_unbounded_keys_join_path(spark, tmp_path):
    """Above broadcast_keys the delete mask becomes a distributed join —
    no driver key materialization, no key-count ceiling — and parts the
    key range spans but no key actually hits keep their ids unwritten."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        decode_table,
        encode_table,
        snapshot_parts,
        snapshots,
        upsert_rows,
    )

    out = str(tmp_path / "upsert_join")
    d1 = spark.range(2000).select(
        F.col("id"), (F.col("id") / 250).cast("int").alias("g"),
        F.lit("old").alias("val"),
    )
    encode_table(spark, d1, out, cluster_by=["g"], salt_by=["id"], sort_by=["g", "id"],
                 num_parts=8, target_part_rows=250, resume=False)
    before = set(snapshot_parts(out))
    # 60 distinct update keys clustered in [500, 559] plus inserts far
    # above; broadcast_keys=10 forces the join path. The key SPAN
    # [500, 3004] range-affects many parts, but only the parts actually
    # holding 500..559 may be rewritten.
    up = spark.createDataFrame(
        [(k, k // 250, "new") for k in range(500, 560)]
        + [(k, 12, "new") for k in range(3000, 3005)],
        "id long, g int, val string",
    )
    rep = upsert_rows(spark, up, out, "id", broadcast_keys=10,
                      cluster_by=["g"], salt_by=["id"], sort_by=["g", "id"],
                      num_parts=1, target_part_rows=250)
    assert rep["rows_deleted"] == 60, rep
    assert rep["rows_appended"] == 65
    dec = decode_table(spark, out)
    assert dec.count() == 2005
    vals = {r["id"]: r["val"] for r in dec.collect()}
    assert all(vals[k] == "new" for k in range(500, 560))
    assert all(vals[k] == "new" for k in range(3000, 3005))
    assert vals[499] == "old" and vals[560] == "old"
    assert sum(1 for v in vals.values() if v == "new") == 65
    # untouched parts keep their ids; one combined snapshot
    after = set(snapshot_parts(out))
    assert before & after, (before, after)
    assert snapshots(out)[-1].get("merge")


def test_failed_evolution_append_does_not_widen_schema(spark, tmp_path):
    """A refused append (retyped column) and an interrupted evolved
    append (commit never reached) both leave _table_meta.json unchanged;
    the merged meta publishes only at the snapshot commit."""
    import json as _json
    import os as _os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import _commit_snapshot_entry, decode_table, encode_table

    out = str(tmp_path / "evo_defer")
    d1 = spark.range(200).select(F.col("id"), (F.col("id") * 2).alias("v"))
    encode_table(spark, d1, out, cluster_by=["id"], salt_by=["v"], num_parts=2,
                 target_part_rows=100, resume=False)
    meta_path = _os.path.join(out, "_table_meta.json")
    before = _json.load(open(meta_path))

    # refused: retyping v -> string must not touch the meta
    bad = spark.range(200, 250).select(
        F.col("id"), F.concat(F.lit("x"), F.col("id")).alias("v")
    )
    with _pytest.raises(ValueError):
        encode_table(spark, bad, out, cluster_by=["id"], salt_by=["v"], num_parts=1,
                     append=True)
    assert _json.load(open(meta_path)) == before

    # interrupted: evolved append with commit=False writes parts but NOT
    # the widened meta; the helper publishes both at commit time
    d2 = spark.range(200, 300).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
        F.concat(F.lit("n"), F.col("id")).alias("note"),
    )
    res = encode_table(spark, d2, out, cluster_by=["id"], salt_by=["v"], num_parts=1,
                       target_part_rows=100, append=True, commit=False)
    assert _json.load(open(meta_path)) == before  # crash here: no widening
    assert decode_table(spark, out).columns == ["id", "v"]
    pend = res["pending_commit"]
    assert pend and pend["evolved_meta"] is not None
    _commit_snapshot_entry(out, pend["entry"], append=True,
                           evolved_meta=pend["evolved_meta"])
    assert _json.load(open(meta_path))["columns"] == ["id", "v", "note"]
    dec = decode_table(spark, out)
    assert dec.columns == ["id", "v", "note"]
    assert dec.count() == 300


def test_time_travel_reads_pre_evolution_schema(spark, tmp_path):
    """decode_table(snapshot_id=pre-evolution) returns the columns in
    effect at that snapshot, not the widened current schema."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import decode_table, encode_table, snapshots

    out = str(tmp_path / "evo_tt")
    d1 = spark.range(200).select(F.col("id"), (F.col("id") * 2).alias("v"))
    encode_table(spark, d1, out, cluster_by=["id"], salt_by=["v"], num_parts=2,
                 target_part_rows=100, resume=False)
    first = snapshots(out)[0]["id"]
    d2 = spark.range(200, 300).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
        F.concat(F.lit("n"), F.col("id")).alias("note"),
    )
    encode_table(spark, d2, out, cluster_by=["id"], salt_by=["v"], num_parts=1,
                 target_part_rows=100, append=True)
    assert decode_table(spark, out).columns == ["id", "v", "note"]
    old = decode_table(spark, out, snapshot_id=first)
    assert old.columns == ["id", "v"]
    assert old.count() == 200


def test_merge_changefeed_delivers_only_appended_rows(spark, tmp_path):
    """The combined merge snapshot records append_parts; the changefeed
    delivers the appended rows and skips the rewrites (no duplicates)."""
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import encode_table, upsert_rows

    out = str(tmp_path / "merge_feed")
    d1 = spark.range(600).select(
        F.col("id"), (F.col("id") / 200).cast("int").alias("g"),
        F.lit("old").alias("val"),
    )
    encode_table(spark, d1, out, cluster_by=["g"], salt_by=["id"], sort_by=["g", "id"],
                 num_parts=3, target_part_rows=200, resume=False)
    up = spark.createDataFrame(
        [(k, k // 200, "new") for k in range(100, 120)]
        + [(k, 9, "new") for k in range(900, 910)],
        "id long, g int, val string",
    )
    upsert_rows(spark, up, out, "id",
                cluster_by=["g"], salt_by=["id"], sort_by=["g", "id"],
                num_parts=1, target_part_rows=200)
    spark.dataSource.register(SparkcodecDataSource)
    sink = str(tmp_path / "feed_sink")
    q = (
        spark.readStream.format("sparkcodec").load(out)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", str(tmp_path / "feed_ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    # original 600 appended rows + 30 merge-appended rows; the 20
    # updated keys appear twice across snapshots (append-only feed) but
    # the REWRITTEN parts are never replayed
    assert got.count() == 630
    assert got.filter(F.col("val") == "new").count() == 30


def test_fs_seam_mock_object_store_lifecycle(spark, tmp_path):
    """The full table lifecycle through the object-store seam (mock://
    scheme: whole-object atomic PUTs, no rename, no O_APPEND): encode,
    pruned decode, append snapshot, delete, compact, expire — every
    durability path exercised without local-rename semantics."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        compact_table,
        decode_table,
        delete_rows,
        encode_table,
        expire_snapshots,
        snapshot_parts,
        snapshots,
    )

    out = "mock://" + str(tmp_path / "objstore")
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") / 500).cast("int").alias("g"),
        F.concat(F.lit("t"), F.col("id")).alias("txt"),
    )
    rep = encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                       sort_by=["g", "id"], num_parts=4, target_part_rows=500,
                       resume=False)
    assert rep["n_rows"] == 2000
    dec = decode_table(spark, out)
    assert dec.count() == 2000
    assert dec.agg(F.sum("id")).collect()[0][0] == sum(range(2000))
    # pruned decode through the seam
    assert decode_table(spark, out, where=("id", 100, 200)).filter(
        F.col("id").between(100, 200)
    ).count() == 101
    # append snapshot
    d2 = spark.range(2000, 2100).select(
        F.col("id"), (F.col("id") / 500).cast("int").alias("g"),
        F.concat(F.lit("t"), F.col("id")).alias("txt"),
    )
    encode_table(spark, d2, out, cluster_by=["g"], salt_by=["id"],
                 sort_by=["g", "id"], num_parts=1, target_part_rows=500,
                 append=True)
    assert decode_table(spark, out).count() == 2100
    assert len(snapshots(out)) == 2
    # object-store log protocol: per-entry conditional-PUT objects, no
    # jsonl (stores can't append atomically)
    import os as _os
    snapdir = str(tmp_path / "objstore" / "_snapshots.d")
    assert len(_os.listdir(snapdir)) == 2
    assert not _os.path.exists(str(tmp_path / "objstore" / "_snapshots.jsonl"))
    # delete + compact + expire
    drep = delete_rows(spark, out, ("id", 0, 99))
    assert drep["rows_deleted"] == 100
    assert decode_table(spark, out).count() == 2000
    compact_table(spark, out, target_part_rows=5000)
    assert decode_table(spark, out).count() == 2000
    expire_snapshots(out, keep_last=1)
    assert decode_table(spark, out).count() == 2000
    # expiry squashed into ONE object (sentinel first line — squash-ness
    # is in-content so entries and squashes share one seq namespace) and
    # removed the dead per-entry objects
    names = _os.listdir(snapdir)
    assert len(names) == 1, names
    first_line = open(_os.path.join(snapdir, names[0])).readline()
    assert "_squash" in first_line
    assert len(snapshots(out)) == 1
    # expiry actually deleted the unreferenced files through the seam:
    # the on-disk checkpoints now equal exactly the live set
    from sparkcodec.engine import completed_parts

    assert completed_parts(out) == set(snapshot_parts(out))


def test_object_store_snapshot_log_protocol(tmp_path):
    """The per-entry log primitives directly: conditional-PUT collision
    advances seq (a crashed retry's leftover object never blocks or gets
    overwritten), a squash object supersedes earlier objects even BEFORE
    the dead ones are deleted (the expire crash window), and a legacy
    jsonl reads as the prefix."""
    import os as _os

    from sparkcodec.engine import SNAPDIR, _snapshot_log_append, snapshots
    from sparkcodec.fs import get_fs

    out = "mock://" + str(tmp_path / "t")
    _snapshot_log_append(out, {"id": 1, "parent": 0, "new_parts": [0]})
    _snapshot_log_append(out, {"id": 2, "parent": 1, "new_parts": [1]})
    assert [s["id"] for s in snapshots(out)] == [1, 2]
    # collision: pre-plant the next seq (simulates a crashed writer's
    # leftover); the append must keep both — skip, not overwrite
    fs = get_fs(out)
    planted = f"{out}/{SNAPDIR}/0000000003.json"
    assert fs.create_exclusive(planted, b'{"id":3,"parent":2,"new_parts":[2]}\n')
    _snapshot_log_append(out, {"id": 4, "parent": 3, "new_parts": [3]})
    assert [s["id"] for s in snapshots(out)] == [1, 2, 3, 4]
    # squash supersedes earlier objects even with the dead ones still
    # present (mid-expire crash): readers see only the squashed history
    assert fs.create_exclusive(
        f"{out}/{SNAPDIR}/0000000005.squash.json",
        b'{"id":4,"parent":0,"new_parts":[0,1,2,3]}\n',
    )
    assert [s["id"] for s in snapshots(out)] == [4]
    assert snapshots(out)[0]["new_parts"] == [0, 1, 2, 3]
    # entries after a squash extend it
    _snapshot_log_append(out, {"id": 5, "parent": 4, "new_parts": [4]})
    assert [s["id"] for s in snapshots(out)] == [4, 5]
    # legacy read-modify-PUT jsonl (older engine) is the prefix
    legacy_dir = "mock://" + str(tmp_path / "l")
    get_fs(legacy_dir).put_atomic(
        f"{legacy_dir}/_snapshots.jsonl", b'{"id":1,"parent":0,"new_parts":[0]}\n'
    )
    _snapshot_log_append(legacy_dir, {"id": 2, "parent": 1, "new_parts": [1]})
    assert [s["id"] for s in snapshots(legacy_dir)] == [1, 2]
    assert _os.path.exists(str(tmp_path / "t" / SNAPDIR))


def test_object_store_fresh_run_never_reuses_log_paths(spark, tmp_path):
    """resume=False over an existing object-store table resets the log
    by SUPERSEDING (empty squash at a fresh seq), never by deleting and
    reusing seq paths — so a reader process whose cache holds the old
    table's objects can never resurrect its history."""
    import os as _os

    from pyspark.sql import functions as F

    from sparkcodec.engine import SNAPDIR, decode_table, encode_table, snapshots

    out = "mock://" + str(tmp_path / "fr")
    df = spark.range(400).select(F.col("id"), (F.col("id") % 2).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=1, resume=False)
    encode_table(spark, df.withColumn("id", F.col("id") + 400), out,
                 append=True, cluster_by=["g"], salt_by=["id"], num_parts=1)
    old = sorted(_os.listdir(str(tmp_path / "fr" / SNAPDIR)))
    assert old == ["0000000001.json", "0000000002.json"]
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=1, resume=False)
    names = sorted(_os.listdir(str(tmp_path / "fr" / SNAPDIR)))
    # old seqs gone, reset squash + the new root at HIGHER seqs (squash
    # carries the sentinel line, sharing the entries' seq namespace)
    assert names == ["0000000003.json", "0000000004.json"], names
    first_line = open(str(tmp_path / "fr" / SNAPDIR / names[0])).readline()
    assert "_squash" in first_line
    assert len(snapshots(out)) == 1
    assert decode_table(spark, out).count() == 400


def test_unregistered_scheme_refused(spark):
    """An out_dir with an unregistered URL scheme fails fast with a
    registration hint (replacing the old blanket URL refusal)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import encode_table

    df = spark.range(10).select(F.col("id"))
    with _pytest.raises(ValueError, match="no filesystem registered"):
        encode_table(spark, df, "s3://bucket/table", num_parts=1, resume=False)


def test_writer_lock_refuses_concurrent_and_takes_over_stale(spark, tmp_path):
    """Single-writer contract: a held lease refuses a second writer with
    a clear error; an expired lease is taken over; the lease is released
    on completion; composite ops (merge) re-enter without deadlock."""
    import json as _json
    import os as _os
    import time as _time

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        ConcurrentWriterError,
        decode_table,
        encode_table,
        upsert_rows,
    )

    out = str(tmp_path / "locked")
    df = spark.range(300).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"], num_parts=2,
                 target_part_rows=150, resume=False)
    lock = _os.path.join(out, "_writer.lock")
    assert not _os.path.exists(lock)  # released after the encode

    # a live foreign lease: second writer refused, table untouched
    _os.makedirs(out, exist_ok=True)
    with open(lock, "w") as fh:
        _json.dump({"owner": "deadbeef", "pid": 1, "op": "encode",
                    "ts": _time.time(), "lease_sec": 3600}, fh)
    d2 = spark.range(300, 400).select(F.col("id"), (F.col("id") % 3).alias("g"))
    with _pytest.raises(ConcurrentWriterError, match="locked by writer deadbeef"):
        encode_table(spark, d2, out, cluster_by=["g"], salt_by=["id"], num_parts=1,
                     target_part_rows=150, append=True)
    assert decode_table(spark, out).count() == 300

    # stale lease (expired): taken over, append proceeds, lock released
    with open(lock, "w") as fh:
        _json.dump({"owner": "deadbeef", "pid": 1, "op": "encode",
                    "ts": _time.time() - 7200, "lease_sec": 3600}, fh)
    encode_table(spark, d2, out, cluster_by=["g"], salt_by=["id"], num_parts=1,
                 target_part_rows=150, append=True)
    assert decode_table(spark, out).count() == 400
    assert not _os.path.exists(lock)

    # composite op holds ONE lease end to end (reentrant in-process)
    up = spark.createDataFrame([(50, 2, ), (999, 0)], "id long, g long")
    upsert_rows(spark, up, out, "id", cluster_by=["g"], salt_by=["id"],
                num_parts=1, target_part_rows=150)
    assert not _os.path.exists(lock)
    assert decode_table(spark, out).count() == 401


def test_zorder_improves_multi_column_pruning(spark, tmp_path):
    """zorder_by: a conjunctive two-column predicate prunes strictly
    more bytes than under a lexicographic (a, b) sort — the z-curve
    gives BOTH dimensions block locality — while decode stays exact."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        _keep_row_ranges_multi,
        completed_parts,
        decode_table,
        encode_table,
    )

    # 100x100 grid in scrambled input order
    df = spark.range(10000).select(
        (F.col("id") % 100).alias("a"),
        (F.col("id") / 100).cast("long").alias("b"),
        F.xxhash64("id").alias("scramble"),
    ).orderBy("scramble").drop("scramble")

    out_lex = str(tmp_path / "lex")
    encode_table(spark, df, out_lex, cluster_by=None, salt_by=["a"],
                 sort_by=["a", "b"], num_parts=1, resume=False, block_rows=256)
    out_z = str(tmp_path / "zord")
    encode_table(spark, df, out_z, cluster_by=None, salt_by=["a"],
                 zorder_by=["a", "b"], num_parts=1, resume=False, block_rows=256)

    wheres = [("a", 10, 20), ("b", 10, 20)]

    def coverage(out):
        total = 0
        for pid in completed_parts(out):
            r = _keep_row_ranges_multi(out, pid, wheres)
            total += sum(hi - lo for lo, hi in r) if r is not None else 10000
        return total

    cov_lex, cov_z = coverage(out_lex), coverage(out_z)
    assert cov_z < cov_lex, (cov_z, cov_lex)
    # correctness on both layouts
    for out in (out_lex, out_z):
        dec = decode_table(spark, out, where=wheres).filter(
            F.col("a").between(10, 20) & F.col("b").between(10, 20)
        )
        assert dec.count() == 121
        assert decode_table(spark, out).count() == 10000


def test_zorder_part_level_pruning_and_guards(spark, tmp_path):
    """With no cluster_by, parts are contiguous z-ranges: BOTH dimensions
    part-prune; aligned layout and non-numeric columns are refused."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        completed_parts,
        decode_table,
        encode_table,
        part_stats,
        prune_parts,
    )

    out = str(tmp_path / "zparts")
    df = spark.range(20000).select(
        (F.col("id") % 200).alias("a"),
        (F.col("id") / 200).cast("long").alias("b"),
    )
    encode_table(spark, df, out, cluster_by=None, zorder_by=["a", "b"],
                 num_parts=8, target_part_rows=2500, resume=False)
    parts = sorted(completed_parts(out))
    assert len(parts) >= 4
    st = part_stats(out)
    kept_a = prune_parts(out, ("a", 0, 20), parts, stats=st)
    kept_b = prune_parts(out, ("b", 0, 10), parts, stats=st)
    # both dimensions prune at part level (lexicographic parts would
    # only ever prune on the leading column)
    assert len(kept_a) < len(parts), (len(kept_a), len(parts))
    assert len(kept_b) < len(parts), (len(kept_b), len(parts))
    assert decode_table(spark, out).count() == 20000

    with _pytest.raises(ValueError, match="clustered layout"):
        encode_table(spark, df, str(tmp_path / "za"), layout="aligned",
                     zorder_by=["a"], resume=False)
    bad = spark.range(10).select(F.col("id"), F.array(F.lit(1)).alias("arr"))
    with _pytest.raises(ValueError, match="numeric and string"):
        encode_table(spark, bad, str(tmp_path / "zb"), cluster_by=None,
                     zorder_by=["arr"], num_parts=1, resume=False)
    with _pytest.raises(ValueError, match="not both"):
        encode_table(spark, df, str(tmp_path / "zc"), cluster_by=None,
                     zorder_by=["a"], sort_by=["b"], num_parts=1, resume=False)
    # 4 dimensions: bits scale to 63//4=15, z-values stay in the positive
    # long range (no sign-bit flip, no shift wraparound) and round-trip
    d4 = spark.range(2000).select(
        (F.col("id") % 10).alias("a"), (F.col("id") % 7).alias("b"),
        (F.col("id") % 5).alias("c"), (F.col("id") % 3).alias("d"),
    )
    out4 = str(tmp_path / "z4")
    encode_table(spark, d4, out4, cluster_by=None, zorder_by=["a", "b", "c", "d"],
                 num_parts=2, target_part_rows=1000, resume=False)
    assert decode_table(spark, out4).count() == 2000


def test_zorder_string_dimension_dict_path(spark, tmp_path):
    """A string z-dim under the dictionary cap buckets by exact rank:
    both the string and the numeric dimension part-prune, string
    where-bounds compose exactly, and decode round-trips."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        completed_parts,
        decode_table,
        encode_table,
        part_stats,
        prune_parts,
    )

    # 40 categories x 500 rows, scrambled input order
    df = spark.range(20000).select(
        F.format_string("cat%02d", (F.col("id") % 40).cast("int")).alias("cat"),
        (F.col("id") / 40).cast("long").alias("b"),
        F.xxhash64("id").alias("scramble"),
    ).orderBy("scramble").drop("scramble")
    out = str(tmp_path / "zstr")
    encode_table(spark, df, out, cluster_by=None, zorder_by=["cat", "b"],
                 num_parts=8, target_part_rows=2500, resume=False)
    parts = sorted(completed_parts(out))
    assert len(parts) >= 4
    st = part_stats(out)
    kept_s = prune_parts(out, ("cat", "cat00", "cat04"), parts, stats=st)
    kept_b = prune_parts(out, ("b", 0, 50), parts, stats=st)
    assert len(kept_s) < len(parts), (len(kept_s), len(parts))
    assert len(kept_b) < len(parts), (len(kept_b), len(parts))
    dec = decode_table(
        spark, out, where=[("cat", "cat10", "cat12"), ("b", 100, 200)]
    ).filter(F.col("cat").between("cat10", "cat12") & F.col("b").between(100, 200))
    assert dec.count() == 3 * 101
    assert decode_table(spark, out).count() == 20000


def test_zorder_string_prefix_proxy_path(spark, tmp_path):
    """Above the dictionary cap the string dim falls to the byte-prefix
    proxy: the shared 'doc_' prefix is stripped (otherwise every proxy
    collapses to one bucket), ordering still clusters, and NULLs ride
    to bucket 0 without errors."""
    from pyspark.sql import functions as F

    import sparkcodec.engine as eng
    from sparkcodec.engine import (
        completed_parts,
        decode_table,
        encode_table,
        part_stats,
        prune_parts,
    )

    old = eng.ZORDER_STRING_DICT_CAP
    eng.ZORDER_STRING_DICT_CAP = 50
    try:
        df = spark.range(8000).select(
            F.when(F.col("id") % 997 == 0, F.lit(None)).otherwise(
                F.format_string("doc_%05d", F.col("id").cast("int"))
            ).alias("key"),
            F.col("id").alias("v"),
            F.xxhash64("id").alias("scramble"),
        ).orderBy("scramble").drop("scramble")
        out = str(tmp_path / "zpre")
        encode_table(spark, df, out, cluster_by=None, zorder_by=["key"],
                     num_parts=6, target_part_rows=1500, resume=False)
        parts = sorted(completed_parts(out))
        assert len(parts) >= 3
        kept = prune_parts(
            out, ("key", "doc_01000", "doc_01999"), parts, stats=part_stats(out)
        )
        assert len(kept) < len(parts), (len(kept), len(parts))
        dec = decode_table(
            spark, out, where=[("key", "doc_01000", "doc_01999")]
        ).filter(F.col("key").between("doc_01000", "doc_01999"))
        assert dec.count() == 999  # ids 1000..1999 minus the null at id=1994
        assert decode_table(spark, out).count() == 8000
    finally:
        eng.ZORDER_STRING_DICT_CAP = old


def test_optimize_table_zorder_rewrite(spark, tmp_path):
    """optimize_table re-clusters the whole live set (base + appends)
    z-ordered in ONE snapshot: rows identical, conjunctive pruning
    improves, the old snapshot stays time-travelable, and the entry is
    a compaction (changefeed skips it)."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        _keep_row_ranges_multi,
        completed_parts,
        decode_table,
        encode_table,
        optimize_table,
        snapshot_parts,
        snapshots,
    )

    def grid(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 100).alias("a"),
            (F.col("id") / 100).cast("long").alias("b"),
            F.xxhash64("id").alias("s"),
        ).orderBy("s").drop("s")

    out = str(tmp_path / "opt")
    encode_table(spark, grid(0, 6000), out, cluster_by=None, salt_by=["a"],
                 sort_by=["a"], num_parts=4, resume=False, block_rows=256)
    encode_table(spark, grid(6000, 10000), out, append=True, cluster_by=None,
                 salt_by=["a"], sort_by=["a"], num_parts=3, resume=False,
                 block_rows=256)
    pre_live = snapshot_parts(out)
    pre_sid = snapshots(out)[-1]["id"]
    wheres = [("a", 10, 20), ("b", 10, 20)]

    def coverage():
        total = 0
        for pid in snapshot_parts(out):
            r = _keep_row_ranges_multi(out, pid, wheres)
            total += sum(hi - lo for lo, hi in r) if r is not None else 10**9
        return total

    cov_before = coverage()
    rep = optimize_table(spark, out, zorder_by=["a", "b"],
                         target_part_rows=2500)
    assert rep["parts_removed"] == len(pre_live)
    assert rep["n_rows"] == 10000
    # one new snapshot; entry shape
    snaps = snapshots(out)
    assert snaps[-1]["id"] == pre_sid + 1
    assert snaps[-1]["compaction"] is True
    assert sorted(snaps[-1]["removed_parts"]) == sorted(pre_live)
    # rows identical (full multiset compare)
    src = grid(0, 6000).unionAll(grid(6000, 10000))
    assert decode_table(spark, out).exceptAll(src).count() == 0
    assert src.exceptAll(decode_table(spark, out)).count() == 0
    # conjunctive 2-D probe covers fewer rows after the z rewrite
    assert coverage() < cov_before, (coverage(), cov_before)
    # old clustering remains time-travelable
    assert decode_table(spark, out, snapshot_id=pre_sid).count() == 10000
    # old part files untouched on disk
    assert set(pre_live) <= completed_parts(out)


def test_time_travel_as_of_timestamp(spark, tmp_path):
    """decode_table(as_of=...) resolves the latest snapshot committed at
    or before the given time — unix float, ISO string (naive = UTC), and
    datetime all work; before-first-commit raises; combining with
    snapshot_id raises."""
    import datetime as _dt
    import time as _time

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        decode_table,
        encode_table,
        snapshot_id_as_of,
        snapshots,
    )

    out = str(tmp_path / "tt")
    df = spark.range(300).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=1, resume=False)
    t1 = snapshots(out)[-1]["ts"]
    _time.sleep(0.05)
    encode_table(spark, df.withColumn("id", F.col("id") + 300), out,
                 append=True, cluster_by=["g"], salt_by=["id"], num_parts=1)
    t2 = snapshots(out)[-1]["ts"]
    assert snapshot_id_as_of(out, t1) == 1
    assert snapshot_id_as_of(out, (t1 + t2) / 2) == 1
    assert snapshot_id_as_of(out, t2 + 1) == 2
    assert decode_table(spark, out, as_of=t1).count() == 300
    assert decode_table(spark, out, as_of=t2 + 1).count() == 600
    # ISO string and datetime forms (+10ms: datetime keeps only
    # microseconds, so an ISO stamp of exactly t1 can round BELOW it)
    iso = _dt.datetime.fromtimestamp(t1 + 0.01, _dt.timezone.utc).isoformat()
    assert decode_table(spark, out, as_of=iso).count() == 300
    assert decode_table(
        spark, out, as_of=_dt.datetime.fromtimestamp(t2 + 1, _dt.timezone.utc)
    ).count() == 600
    with _pytest.raises(ValueError, match="no snapshot"):
        snapshot_id_as_of(out, t1 - 10)
    with _pytest.raises(ValueError, match="not both"):
        decode_table(spark, out, snapshot_id=1, as_of=t1)


def test_vacuum_orphans(spark, tmp_path):
    """vacuum_orphans reclaims parts no snapshot ever referenced (a
    deferred-commit run that never published) while leaving every
    snapshot, time travel, and a crashed append's resumable parts
    intact; include_pending abandons the resume and reclaims those too."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        completed_parts,
        decode_table,
        encode_table,
        snapshot_parts,
        snapshots,
        vacuum_orphans,
    )

    out = str(tmp_path / "vac")
    df = spark.range(600).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=2, resume=False)
    encode_table(spark, df.withColumn("id", F.col("id") + 600), out,
                 append=True, cluster_by=["g"], salt_by=["id"], num_parts=1)
    live = set(snapshot_parts(out))
    # orphans: a deferred-commit append whose entry never publishes
    encode_table(spark, df.withColumn("id", F.col("id") + 1200), out,
                 append=True, commit=False, resume=False,
                 cluster_by=["g"], salt_by=["id"], num_parts=2)
    assert completed_parts(out) > live  # orphan parts on disk
    # simulate a crashed RESUMABLE append alongside: plant a pending
    # marker claiming the orphan parts' base — they must be protected
    orphan_base = min(completed_parts(out) - live)
    meta = _json.load(open(_os.path.join(out, "_table_meta.json")))
    pend = {"base": orphan_base, "config": {}}
    _json.dump(pend, open(_os.path.join(out, "_pending_append.json"), "w"))
    rep = vacuum_orphans(out)
    assert rep["files_deleted"] == 0  # everything protected by the base
    assert completed_parts(out) > live
    # abandon the pending resume: orphans reclaimed, snapshots untouched
    rep = vacuum_orphans(out, include_pending=True)
    assert rep["parts_vacuumed"] >= 2 and rep["files_deleted"] > 0
    assert not _os.path.exists(_os.path.join(out, "_pending_append.json"))
    assert completed_parts(out) == live
    assert len(snapshots(out)) == 2  # retention untouched
    assert decode_table(spark, out).count() == 1200
    assert decode_table(spark, out, snapshot_id=1).count() == 600


def test_re_expire_keeps_tag_only_flag(spark, tmp_path):
    """A second expire whose keep window spans a previously materialized
    tag_only root must NOT re-root it as replayable: the retention
    window counts along the tip's ancestry only, bystander tag roots
    stay tag_only, and a fresh changefeed delivers the tip's rows once."""
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import (
        decode_table,
        encode_table,
        expire_snapshots,
        snapshots,
        tag_snapshot,
    )

    out = str(tmp_path / "reexp")
    df = spark.range(300).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=1, resume=False)
    tag_snapshot(out, "v1")
    for i in (1, 2):
        encode_table(spark, df.withColumn("id", F.col("id") + 300 * i), out,
                     append=True, cluster_by=["g"], salt_by=["id"], num_parts=1)
    expire_snapshots(out, keep_last=1)  # log: [tagroot1, root3]
    encode_table(spark, df.withColumn("id", F.col("id") + 900), out,
                 append=True, cluster_by=["g"], salt_by=["id"], num_parts=1)
    expire_snapshots(out, keep_last=4)  # window spans the tag_only root
    snaps = snapshots(out)
    flags = {s["id"]: s.get("tag_only") for s in snaps}
    assert flags[1] is True, flags  # bystander stayed tag_only
    assert decode_table(spark, out, ref="v1").count() == 300
    assert decode_table(spark, out).count() == 1200
    # fresh changefeed: tip rows exactly once
    spark.dataSource.register(SparkcodecDataSource)
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    q = (spark.readStream.format("sparkcodec").load(out)
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ck).trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.read.parquet(sink).count() == 1200


def test_optimize_table_partial_where(spark, tmp_path):
    """optimize_table(where=...) rewrites ONLY the parts overlapping the
    predicate: untouched parts keep their ids, rows stay identical, and
    the table-level clustering meta does not change (mixed layout)."""
    import json as _json

    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        decode_table,
        encode_table,
        optimize_table,
        snapshot_parts,
        snapshots,
    )

    out = str(tmp_path / "popt")
    df = spark.range(8000).select(
        (F.col("id") % 100).alias("a"),
        (F.col("id") / 100).cast("long").alias("b"),
    )
    # cluster by coarse a-buckets so parts have disjoint a-ranges
    encode_table(spark, df.withColumn("bk", (F.col("a") / 25).cast("int")),
                 out, cluster_by=["bk"], salt_by=["b"], sort_by=["bk", "a"],
                 num_parts=4, target_part_rows=2000, resume=False)
    pre_live = set(snapshot_parts(out))
    rep = optimize_table(spark, out, zorder_by=["a", "b"],
                         where=("a", 0, 10), target_part_rows=2000)
    assert 0 < rep["parts_removed"] < len(pre_live)
    snaps = snapshots(out)
    assert snaps[-1]["optimize"]["partial"] is True
    # untouched parts keep ids
    untouched = pre_live - set(snaps[-1]["removed_parts"])
    assert untouched and untouched <= set(snapshot_parts(out))
    # rows identical incl. the helper column
    assert decode_table(spark, out).count() == 8000
    assert decode_table(spark, out).select(F.sum("a"), F.sum("b")).collect() \
        == df.select(F.sum("a"), F.sum("b")).collect()
    # table meta clustering claim unchanged by the partial rewrite
    meta = _json.load(open(str(tmp_path / "popt" / "_table_meta.json")))
    assert meta["cluster_by"] == ["bk"] and meta["zorder_by"] is None


def test_snapshot_tags_survive_expire(spark, tmp_path):
    """tag_snapshot pins a snapshot: expire keeps its part files and
    materializes it in the squashed log as a tag_only root, so
    decode_table(ref=...) reproduces the exact rows after retention has
    destroyed ordinary time travel; deleting the tag makes the next
    expire reclaim it. Changefeed consumers never replay tag_only roots."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        decode_table,
        delete_tag,
        encode_table,
        expire_snapshots,
        list_tags,
        snapshots,
        tag_snapshot,
    )

    out = str(tmp_path / "tags")
    df = spark.range(300).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=1, resume=False)
    tag_snapshot(out, "v1-training")  # tip = snapshot 1
    with _pytest.raises(ValueError, match="already exists"):
        tag_snapshot(out, "v1-training")
    tag_snapshot(out, "v1-training", force=True)
    for i in (1, 2):
        encode_table(spark, df.withColumn("id", F.col("id") + 300 * i), out,
                     append=True, cluster_by=["g"], salt_by=["id"], num_parts=1)
    assert list_tags(out) == {"v1-training": 1}
    expire_snapshots(out, keep_last=1)
    # untagged snapshot 2 is gone; tagged snapshot 1 still resolves
    snaps = snapshots(out)
    assert [s["id"] for s in snaps] == [1, 3]
    assert snaps[0]["tag_only"] is True
    assert decode_table(spark, out, ref="v1-training").count() == 300
    assert decode_table(spark, out).count() == 900
    with _pytest.raises(ValueError, match="unknown snapshot 2"):
        decode_table(spark, out, snapshot_id=2)
    # fresh changefeed consumer: retained root only, no tag_only replay
    from sparkcodec.datasource import SparkcodecDataSource

    spark.dataSource.register(SparkcodecDataSource)
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    q = (spark.readStream.format("sparkcodec").load(out)
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ck).trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.read.parquet(sink).count() == 900
    # DS ref option reads the tag
    assert (spark.read.format("sparkcodec").option("ref", "v1-training")
            .load(out).count() == 300)
    # untag -> next expire reclaims
    assert delete_tag(out, "v1-training")
    assert not delete_tag(out, "v1-training")
    expire_snapshots(out, keep_last=1)
    assert [s["id"] for s in snapshots(out)] == [3]
    with _pytest.raises(ValueError, match="unknown ref"):
        decode_table(spark, out, ref="v1-training")


def test_optimize_refuses_non_roundtrip_storage_types(spark, tmp_path):
    """Storage types Spark can't express (unsigned, large) would be
    silently laundered by a decode->re-encode rewrite; optimize_table
    must refuse them BEFORE doing any work (compact_table, which keeps
    the storage schema, remains the supported path)."""
    import json as _json

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import encode_table, optimize_table

    out = str(tmp_path / "u32t")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=1, resume=False)
    meta_path = str(tmp_path / "u32t" / "_table_meta.json")
    meta = _json.load(open(meta_path))
    meta["schema"]["id"] = "u32"  # simulate an unsigned-stored column
    _json.dump(meta, open(meta_path, "w"))
    with _pytest.raises(ValueError, match="round-trip"):
        optimize_table(spark, out, zorder_by=["g"])


def test_where_any_dnf_pruning(spark, tmp_path):
    """where_any (OR of conjunctions): block ranges union across
    disjuncts, intersect a conjunctive where, and part pruning keeps the
    union of per-disjunct survivors — exact results throughout."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        _keep_row_ranges_dnf,
        completed_parts,
        decode_table,
        encode_table,
    )

    # block level: one sorted part, two disjoint OR bands
    out = str(tmp_path / "dnf")
    encode_table(spark, spark.range(4000).select(F.col("id")), out,
                 cluster_by=None, salt_by=["id"], sort_by=["id"],
                 num_parts=1, resume=False, block_rows=256)
    [pid] = completed_parts(out)
    disjuncts = [[("id", 100, 200)], [("id", 3000, 3100)]]
    r = _keep_row_ranges_dnf(out, pid, [], disjuncts)
    assert r is not None and len(r) == 2, r  # two separated bands
    cov = sum(hi - lo for lo, hi in r)
    assert cov <= 4 * 256, (r, cov)
    dec = decode_table(
        spark, out, where_any=[("id", 100, 200), ("id", 3000, 3100)]
    ).filter(F.col("id").between(100, 200) | F.col("id").between(3000, 3100))
    assert dec.count() == 202
    # AND of a conjunction with the disjunction
    dec2 = decode_table(
        spark, out, where=("id", 150, 3050),
        where_any=[("id", 100, 200), ("id", 3000, 3100)],
    ).filter(
        F.col("id").between(150, 3050)
        & (F.col("id").between(100, 200) | F.col("id").between(3000, 3100))
    )
    assert dec2.count() == 102  # 150..200 and 3000..3050

    # part level: clustered by group, OR of two point values keeps the
    # union of each disjunct's surviving parts
    out2 = str(tmp_path / "dnfparts")
    df = spark.range(2000).select(
        F.col("id"), F.concat(F.lit("g"), (F.col("id") % 8)).alias("grp")
    )
    encode_table(spark, df, out2, cluster_by=["grp"], salt_by=["id"],
                 sort_by=["grp", "id"], num_parts=8, target_part_rows=250,
                 resume=False)
    dec3 = decode_table(
        spark, out2, where_any=[("grp", "g1", "g1"), ("grp", "g5", "g5")]
    ).filter(F.col("grp").isin("g1", "g5"))
    assert dec3.count() == 500
    # a disjunct with an IN-list works too
    dec4 = decode_table(
        spark, out2, where_any=[("grp", ["g1", "g2"]), [("id", 0, 10)]]
    ).filter(F.col("grp").isin("g1", "g2") | F.col("id").between(0, 10))
    assert dec4.count() == 507  # 500 in g1/g2 + 7 others in id 0..10


def test_in_list_where_prunes_parts_and_blocks(spark, tmp_path):
    """where=(col, [values]) — IN-list membership: value-set/bloom
    refutation drops parts holding none of the probes; block zone maps
    drop blocks no probe value can fall into; mixes with range
    predicates in a conjunction; results stay exact."""
    import pyarrow as _pa

    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        _keep_row_ranges_in,
        completed_parts,
        decode_table,
        encode_table,
        part_meta,
        prune_parts_eq,
    )

    out = str(tmp_path / "inlist")
    df = spark.range(2000).select(
        F.col("id"), F.concat(F.lit("g"), (F.col("id") % 8)).alias("grp")
    )
    encode_table(spark, df, out, cluster_by=["grp"], salt_by=["id"],
                 sort_by=["grp", "id"], num_parts=8, target_part_rows=250,
                 resume=False)
    parts = sorted(completed_parts(out))
    # value sets recorded -> an IN probe of absent values prunes all parts
    assert prune_parts_eq(out, "grp", ["zz", "yy"], parts) == []
    # IN-list decode: exact after the residual filter
    dec = decode_table(spark, out, where=("grp", ["g1", "g3"]))
    assert dec.filter(F.col("grp").isin("g1", "g3")).count() == 500
    # absent values: every part pruned, zero rows, no task failures
    assert decode_table(spark, out, where=("grp", ["zz"])).count() == 0
    # conjunction of IN + range
    dec2 = decode_table(spark, out, where=[("grp", ["g1"]), ("id", 0, 999)])
    assert dec2.filter(
        (F.col("grp") == "g1") & F.col("id").between(0, 999)
    ).count() == 125
    # block-level: single sorted part, disjoint id blocks; an IN probe
    # hitting two bands keeps only their blocks
    out2 = str(tmp_path / "inlist_blocks")
    encode_table(spark, spark.range(4000).select(F.col("id")), out2,
                 cluster_by=None, salt_by=["id"], sort_by=["id"],
                 num_parts=1, resume=False, block_rows=256)
    [pid] = completed_parts(out2)
    ranges = _keep_row_ranges_in(out2, pid, "id", [100, 3900])
    assert ranges is not None
    covered = sum(hi - lo for lo, hi in ranges)
    assert covered <= 512, (ranges, covered)  # two blocks of 256
    vals = decode_table(spark, out2, where=("id", [100, 3900]))
    got = {r["id"] for r in vals.collect()}
    assert {100, 3900} <= got and len(got) <= 512


def test_stream_reader_columns_option_prunes_files(spark, tmp_path):
    """The changefeed honors the ``columns`` option at the file level:
    only the named columns' block files are opened. Proven by deleting an
    unrequested column's block files — the pruned stream still reads
    correct values (it never opens them), while an unpruned read of that
    column can only produce nulls."""
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import encode_table

    out = str(tmp_path / "feedcols")
    df = spark.range(400).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
        F.concat(F.lit("t"), F.col("id")).alias("txt"),
    )
    encode_table(spark, df, out, cluster_by=["id"], salt_by=["v"], num_parts=2,
                 target_part_rows=200, resume=False)
    # remove the txt column's block files entirely
    for f in _glob.glob(_os.path.join(out, "blocks", "col=txt", "part_*.parquet")):
        _os.remove(f)
    spark.dataSource.register(SparkcodecDataSource)
    sink = str(tmp_path / "cols_sink")
    q = (
        spark.readStream.format("sparkcodec").option("columns", "id,v").load(out)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", str(tmp_path / "cols_ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    assert got.columns == ["id", "v"]
    assert got.count() == 400
    assert got.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(400))


def test_writer_lock_thread_scoped_reentrancy(tmp_path):
    """Reentrancy is per-THREAD: a second thread in the same process is
    refused (no silent single-writer bypass), while the acquiring thread
    re-enters freely and release works cross-thread (the DataSource
    writer acquires in __init__ and may commit from another thread)."""
    import threading

    from sparkcodec.engine import (
        ConcurrentWriterError,
        _acquire_writer_lock,
        _release_writer_lock,
    )

    out = str(tmp_path / "tl")
    tok = _acquire_writer_lock(out, "op1")
    assert tok
    assert _acquire_writer_lock(out, "op1-nested") is None  # same thread

    res = {}

    def other_thread():
        try:
            _acquire_writer_lock(out, "op2")
            res["r"] = "acquired"
        except ConcurrentWriterError:
            res["r"] = "refused"

    t = threading.Thread(target=other_thread)
    t.start()
    t.join()
    assert res["r"] == "refused"

    # cross-thread release (DS writer commit pattern): thread B releases
    # what thread A... rather: B acquires after A releases, A releases B's
    _release_writer_lock(out, tok)

    def acquire_in_thread():
        res["tok2"] = _acquire_writer_lock(out, "op3")

    t = threading.Thread(target=acquire_in_thread)
    t.start()
    t.join()
    assert res["tok2"]
    _release_writer_lock(out, res["tok2"])  # released from the main thread
    tok3 = _acquire_writer_lock(out, "op4")
    assert tok3  # lock fully free again
    _release_writer_lock(out, tok3)


def test_claim_stale_exactly_one_winner(tmp_path):
    """Racing stale-lease takeovers: exactly one claimer wins (the
    rename-based atomic claim), so two takeover racers can never both
    end up holding the lease."""
    import threading

    from sparkcodec.fs import LocalFS

    fs = LocalFS()
    p = str(tmp_path / "lock")
    assert fs.create_exclusive(p, b"stale")
    wins = []

    def claim():
        wins.append(fs.claim_stale(p))

    ts = [threading.Thread(target=claim) for _ in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert wins.count(True) == 1, wins


def test_progress_cache_invalidated_on_fresh_encode(spark, tmp_path):
    """resume=False reuses part ids for different data — encode_progress
    must not serve the previous table's cached counts."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import encode_progress, encode_table

    out = str(tmp_path / "prog")
    encode_table(spark, spark.range(100).select(F.col("id")), out,
                 cluster_by=None, salt_by=["id"], num_parts=2, resume=False)
    assert encode_progress(out)["rows_done"] == 100
    encode_table(spark, spark.range(40).select(F.col("id")), out,
                 cluster_by=None, salt_by=["id"], num_parts=2, resume=False)
    assert encode_progress(out)["rows_done"] == 40


def test_upsert_preserves_snapshot_extra(spark, tmp_path):
    """Caller-scoped identity keys (snapshot_extra, e.g. a stream replay
    tag) must survive into the combined merge entry."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import encode_table, snapshots, upsert_rows

    out = str(tmp_path / "mergextra")
    d1 = spark.range(200).select(F.col("id"), (F.col("id") % 2).alias("g"))
    encode_table(spark, d1, out, cluster_by=["g"], salt_by=["id"], num_parts=2,
                 target_part_rows=100, resume=False)
    up = spark.createDataFrame([(5, 1), (500, 0)], "id long, g long")
    upsert_rows(spark, up, out, "id", cluster_by=["g"], salt_by=["id"],
                num_parts=1, target_part_rows=100,
                snapshot_extra={"stream": ["ckpt", 7]})
    e = snapshots(out)[-1]
    assert e.get("merge") and e.get("stream") == ["ckpt", 7]


def test_legacy_compact_roots_before_rewrite(spark, tmp_path):
    """Compaction of a pre-snapshot-log table roots the log with the
    live set BEFORE merged parts land — readers mid-compaction (or after
    a crash before the commit) never see duplicate rows."""
    import os as _os

    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        _ensure_snapshot_root,
        _read_json,
        compact_table,
        decode_table,
        encode_table,
        snapshots,
    )

    out = str(tmp_path / "legacycompact")
    df = spark.range(300).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"], num_parts=6,
                 target_part_rows=50, resume=False)
    _os.remove(_os.path.join(out, "_snapshots.jsonl"))  # simulate legacy
    rep = compact_table(spark, out, target_part_rows=1000)
    assert rep["groups"] >= 1
    snaps = snapshots(out)
    # root carries the pre-compaction live set; the delta entry follows
    assert snaps[0]["parent"] == 0 and len(snaps) == 2
    assert snaps[1].get("compaction") and snaps[1]["removed_parts"]
    dec = decode_table(spark, out)
    assert dec.count() == 300  # no duplicates
    assert dec.agg(F.sum("id")).collect()[0][0] == sum(range(300))


def test_rollback_table(spark, tmp_path):
    """rollback_table: a forward-moving commit whose live set is exactly
    the target snapshot's — rows rewind, history survives (time travel
    to the undone snapshots still works until expiry), the changefeed
    does not re-deliver restored parts, and rolling back across an
    add-column evolution narrows the read schema."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import (
        decode_table,
        delete_rows,
        encode_table,
        rollback_table,
        snapshots,
    )

    out = str(tmp_path / "rollback")
    d1 = spark.range(400).select(F.col("id"), (F.col("id") % 4).alias("g"))
    encode_table(spark, d1, out, cluster_by=["g"], salt_by=["id"], num_parts=4,
                 target_part_rows=100, resume=False)
    s1 = snapshots(out)[-1]["id"]
    # evolve + append, then delete
    d2 = spark.range(400, 500).select(
        F.col("id"), (F.col("id") % 4).alias("g"),
        F.concat(F.lit("n"), F.col("id")).alias("note"),
    )
    encode_table(spark, d2, out, cluster_by=["g"], salt_by=["id"], num_parts=1,
                 target_part_rows=100, append=True)
    delete_rows(spark, out, ("id", 0, 49))
    assert decode_table(spark, out).count() == 450
    assert decode_table(spark, out).columns == ["id", "g", "note"]

    rep = rollback_table(out, s1)
    assert rep["restored"] == s1
    # the entry records the real visible-row delta (450 -> 400) and the
    # first-class rollback flag (no fake delete-predicate tag)
    tip = snapshots(out)[-1]
    assert tip["n_rows"] == -50 and tip["rollback_of"] == s1
    assert "delete" not in tip
    dec = decode_table(spark, out)
    assert dec.count() == 400  # the delete AND the append are undone
    assert dec.columns == ["id", "g"]  # schema narrowed back
    # metadata stats narrow consistently; explicit columns= on a
    # narrowed-away column fails with a descriptive error
    from sparkcodec.engine import table_column_stats

    st = table_column_stats(out)
    assert "note" not in st and st["id"]["rows"] == 400
    with _pytest.raises(ValueError, match="not in the schema"):
        decode_table(spark, out, columns=["note"])
    assert dec.agg(F.sum("id")).collect()[0][0] == sum(range(400))
    # the undone snapshots still time-travel
    assert decode_table(spark, out, snapshot_id=s1 + 1).count() == 500
    # changefeed: fresh consumer gets each original row once, never the
    # rollback's restored parts again
    spark.dataSource.register(SparkcodecDataSource)
    sink = str(tmp_path / "rb_sink")
    q = (
        spark.readStream.format("sparkcodec").load(out)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", str(tmp_path / "rb_ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 500  # appends only, no dupes
    # DataSource read agrees: tip-snapshot schema, narrowed back
    ds = spark.read.format("sparkcodec").load(out)
    assert ds.columns == ["id", "g"]
    assert ds.count() == 400
    # explicit time travel through the DS still sees the evolved schema
    ds_tt = spark.read.format("sparkcodec").option("snapshot_id", str(s1 + 1)).load(out)
    assert ds_tt.columns == ["id", "g", "note"]
    assert ds_tt.count() == 500
    with _pytest.raises(ValueError):
        rollback_table(out, 999)


def test_table_column_stats_exact(spark, tmp_path):
    """Metadata-only stats are EXACT or refused: min/max/nulls/rows from
    one checkpoint read match a full scan; long-string columns (no zone
    maps) come back exact=False with None bounds, never a wrong value;
    evolved columns count pre-evolution parts as all-NULL."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import encode_table, table_column_stats

    out = str(tmp_path / "colstats")
    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") * 2).alias("v"),
        F.concat(F.lit("x"), (F.col("id") % 5)).alias("tag"),
        # >256 chars: no zone map recorded
        F.rpad(F.lit("long"), 400, "y").alias("big"),
    )
    encode_table(spark, df, out, cluster_by=["tag"], salt_by=["id"], num_parts=4,
                 target_part_rows=250, resume=False)
    st = table_column_stats(out)
    assert st["id"] == {"min": 0, "max": 999, "nulls": 0, "rows": 1000, "exact": True}
    assert st["v"]["min"] == 2 and st["v"]["max"] == 1998
    assert st["v"]["nulls"] == 100 and st["v"]["exact"]
    assert st["tag"] == {"min": "x0", "max": "x4", "nulls": 0, "rows": 1000,
                         "exact": True}
    assert st["big"]["exact"] is False and st["big"]["min"] is None
    assert st["big"]["rows"] == 1000 and st["big"]["nulls"] == 0
    # evolution: new column -> old parts counted as all-NULL
    d2 = spark.range(1000, 1100).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
        F.concat(F.lit("x"), (F.col("id") % 5)).alias("tag"),
        F.rpad(F.lit("long"), 400, "y").alias("big"),
        F.lit(7).alias("extra"),
    )
    encode_table(spark, d2, out, cluster_by=["tag"], salt_by=["id"], num_parts=1,
                 target_part_rows=250, append=True)
    st2 = table_column_stats(out)
    assert st2["extra"]["rows"] == 1100 and st2["extra"]["nulls"] == 1000
    assert st2["extra"]["min"] == 7 and st2["extra"]["max"] == 7 and st2["extra"]["exact"]


def test_upsert_ignores_stale_pending_append(spark, tmp_path):
    """A crashed earlier merge attempt can leave _pending_append.json
    behind; a replayed merge must NOT adopt its part-id base (doing so
    would classify the replay's own parts as already-done and anti-join
    their rows away — silent data loss). The merge append always runs
    resume=False; a caller-passed resume=True is overridden."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from sparkcodec.engine import decode_table, encode_table, upsert_rows

    out = str(tmp_path / "stalepend")
    kw = dict(cluster_by=["g"], salt_by=["id"], sort_by=["g", "id"],
              num_parts=2, target_part_rows=100)
    d1 = spark.range(400).select(
        F.col("id"), (F.col("id") % 4).alias("g"), F.lit("old").alias("val")
    )
    encode_table(spark, d1, out, resume=False, **kw)
    # forge the crashed attempt's pending marker with a MATCHING config
    # and a low base, the exact poison a resume=True append would drink
    config = {"num_parts": 2, "layout": "clustered", "cluster_by": ["g"],
              "salt_by": ["id"], "columns": ["id", "g", "val"],
              "target_part_rows": 100}
    with open(_os.path.join(out, "_pending_append.json"), "w") as fh:
        _json.dump({"base": 1, "config": config}, fh)
    up = spark.createDataFrame(
        [(k, k % 4, "new") for k in range(100, 140)]
        + [(k, 1, "new") for k in range(9000, 9010)],
        "id long, g long, val string",
    )
    rep = upsert_rows(spark, up, out, "id", resume=True, **kw)  # resume overridden
    assert rep["rows_appended"] == 50, rep
    dec = decode_table(spark, out)
    assert dec.count() == 410
    vals = {r["id"]: r["val"] for r in dec.collect()}
    assert sum(1 for v in vals.values() if v == "new") == 50
    assert all(vals[k] == "new" for k in range(9000, 9010))
    assert not _os.path.exists(_os.path.join(out, "_pending_append.json"))


def test_prune_parts_eq_type_mismatch_keeps(spark, tmp_path):
    """A type-mismatched equality probe (string '3' against an int value
    set) must KEEP parts — set intersection comes back empty without
    raising, so without the type guard matching data would silently
    vanish."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import completed_parts, encode_table, prune_parts_eq

    out = str(tmp_path / "eqguard")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 4).alias("g"))
    encode_table(spark, df, out, cluster_by=None, salt_by=["id"], sort_by=["g"],
                 num_parts=1, resume=False)
    parts = sorted(completed_parts(out))
    assert prune_parts_eq(out, "g", ["3"], parts) == parts  # mismatched: keep
    assert prune_parts_eq(out, "g", [3], parts) == parts    # present: keep
    assert prune_parts_eq(out, "g", [9], parts) == []       # absent: prune


def test_fsspec_adapter_memory_backend():
    """FsspecFS primitives through fsspec's memory:// backend (skipped
    where fsspec is absent). Driver-side only — memory:// is per-process
    so Spark kernels can't see it; the cross-process seam behavior is
    covered by mock:// above. Exercises put/read/exclusive-create/
    claim/list plus the per-entry snapshot log and its squash."""
    import pytest as _pytest

    _pytest.importorskip("fsspec")
    from sparkcodec.engine import SNAPDIR, _snapshot_log_append, snapshots
    from sparkcodec.fsspec_adapter import register_fsspec

    adapter = register_fsspec("memory")
    out = "memory://sparkcodec_t"
    assert adapter.put_atomic(f"{out}/a.bin", b"xy") == 2
    with adapter.open_read(f"{out}/a.bin") as fh:
        assert fh.read() == b"xy"
    assert adapter.create_exclusive(f"{out}/_writer.lock", b"lease")
    assert not adapter.create_exclusive(f"{out}/_writer.lock", b"other")
    assert adapter.claim_stale(f"{out}/_writer.lock")
    assert not adapter.claim_stale(f"{out}/_writer.lock")
    _snapshot_log_append(out, {"id": 1, "parent": 0, "new_parts": [0]})
    _snapshot_log_append(out, {"id": 2, "parent": 1, "new_parts": [1]})
    assert [s["id"] for s in snapshots(out)] == [1, 2]
    assert len(adapter.listdir(f"{out}/{SNAPDIR}")) == 2


def test_unreadable_lock_treated_fresh_not_stolen(spark, tmp_path):
    """An empty or unparsable _writer.lock must be treated as a FRESH
    lease (refused), never as infinitely stale — or a racer reading a
    live writer's not-yet-visible lock body would steal the single-writer
    lease and two writers would both hold it."""
    import os as _os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import ConcurrentWriterError, encode_table

    out = str(tmp_path / "emptylock")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=1, resume=False)
    lock = _os.path.join(out, "_writer.lock")
    for body in (b"", b"{truncated"):
        with open(lock, "wb") as fh:
            fh.write(body)
        with _pytest.raises(ConcurrentWriterError):
            encode_table(spark, df, out, append=True, cluster_by=["g"],
                         salt_by=["id"], num_parts=1)
        assert _os.path.exists(lock)  # never deleted/stolen
        _os.remove(lock)


def test_create_exclusive_publishes_body_atomically(tmp_path):
    """LocalFS/MockObjectFS create_exclusive: winner's FULL body is
    visible the instant the path exists (tmp+link publish); loser leaves
    the winner's body untouched and no tmp debris."""
    import os as _os

    from sparkcodec.fs import LocalFS, MockObjectFS

    d = tmp_path / "x"
    d.mkdir()
    lf = LocalFS()
    p = str(d / "lock.json")
    assert lf.create_exclusive(p, b"WINNER")
    assert open(p, "rb").read() == b"WINNER"
    assert not lf.create_exclusive(p, b"LOSER")
    assert open(p, "rb").read() == b"WINNER"
    assert _os.listdir(d) == ["lock.json"]  # no tmp leftovers
    mf = MockObjectFS()
    mp = f"mock://{d}/obj.json"
    assert mf.create_exclusive(mp, b"WINNER")
    assert mf.read_bytes(mp) == b"WINNER"
    assert not mf.create_exclusive(mp, b"LOSER")
    assert mf.read_bytes(mp) == b"WINNER"
    assert sorted(mf.listdir(f"mock://{d}")) == ["lock.json", "obj.json"]


def test_vacuum_invalidates_progress_cache(spark, tmp_path):
    """Part ids reclaimed by vacuum_orphans are REUSED by the next
    append; the progress cache (premise: ids never reused) must be
    dropped or encode_progress reports the vacuumed parts' stale
    row counts for the new data."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import encode_progress, encode_table, vacuum_orphans

    out = str(tmp_path / "vaccache")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=1, resume=False)
    # orphan: deferred append that never commits, with MORE rows than
    # the replacement will have (so a stale cache is detectable)
    encode_table(spark, spark.range(500).select(
        F.col("id"), (F.col("id") % 3).alias("g")), out,
        append=True, commit=False, resume=False,
        cluster_by=["g"], salt_by=["id"], num_parts=1)
    encode_progress(out)  # populate the cache with the orphan part
    assert vacuum_orphans(out, include_pending=True)["parts_vacuumed"] >= 1
    encode_table(spark, spark.range(40).select(
        F.col("id"), (F.col("id") % 3).alias("g")), out,
        append=True, cluster_by=["g"], salt_by=["id"], num_parts=1)
    assert encode_progress(out)["rows_done"] == 140  # not 100 + 500


def test_as_of_basic_format_date(spark, tmp_path):
    """8-digit 'YYYYMMDD' as_of strings parse as DATES on every
    supported interpreter (explicit match, not fromisoformat's >=3.11
    basic-format support) — read as unix seconds, '20500101' would be
    1970-08 and wrongly raise before-first-commit."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import encode_table, snapshot_id_as_of

    out = str(tmp_path / "basicdate")
    df = spark.range(50).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=1, resume=False)
    assert snapshot_id_as_of(out, "20500101") == 1  # future date -> tip
    with _pytest.raises(ValueError, match="no snapshot"):
        snapshot_id_as_of(out, "19800101")  # past date -> before first


def test_optimize_stamps_actual_num_parts(spark, tmp_path):
    """A FULL optimize rewrite must record the rewrite's real part count
    in the table meta alongside the new clustering keys — the stale
    pre-rewrite num_parts would misdescribe the live layout."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from sparkcodec.engine import encode_table, optimize_table

    out = str(tmp_path / "optnp")
    df = spark.range(600).select(
        F.col("id"), (F.col("id") % 7).alias("a"), (F.col("id") % 11).alias("b")
    )
    encode_table(spark, df, out, cluster_by=["a"], salt_by=["id"],
                 num_parts=6, resume=False)
    rep = optimize_table(spark, out, zorder_by=["a", "b"], num_parts=2)
    meta = _json.load(open(_os.path.join(out, "_table_meta.json")))
    assert meta["num_parts"] == rep["parts_created"]
    assert meta["zorder_by"] == ["a", "b"]


def test_manifest_pruned_planning_opens_o1_metadata(spark, tmp_path, monkeypatch):
    """Snapshot manifests: planning a pruned decode of a 300-part table
    reads ONE manifest file and ZERO per-part checkpoint files on the
    driver (at 100k parts the per-part path would be a 100k-file listing
    + footer parse per pruned read). The manifest's metadata must be
    IDENTICAL to the checkpoint-derived metadata, so pruning decisions
    cannot diverge."""
    from pyspark.sql import functions as F

    from sparkcodec import engine

    out = str(tmp_path / "mani")
    n_parts = 300
    df = spark.range(3000).select(
        F.col("id"), (F.col("id") % n_parts).alias("g")
    )
    engine.encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                        num_parts=n_parts, target_part_rows=10, resume=False)
    snaps = engine.snapshots(out)
    assert snaps[-1].get("manifest")  # commit folded the manifest

    calls = {"ckpt": 0, "mani": 0}
    orig_c, orig_m = engine._checkpoint_prune_meta, engine._read_manifest

    def count_c(*a):
        calls["ckpt"] += 1
        return orig_c(*a)

    def count_m(*a):
        calls["mani"] += 1
        return orig_m(*a)

    monkeypatch.setattr(engine, "_checkpoint_prune_meta", count_c)
    monkeypatch.setattr(engine, "_read_manifest", count_m)
    engine._MANIFEST_CACHE.clear()
    dec = engine.decode_table(spark, out, where=("g", 5, 5))
    assert calls["ckpt"] == 0, "pruned planning re-read per-part checkpoints"
    assert calls["mani"] == 1  # one snapshot -> one manifest
    assert dec.filter("g = 5").count() == 10  # still exact

    # manifest metadata == checkpoint metadata, part for part (force the
    # fallback by hiding the manifest field from the log entries)
    live = engine.snapshot_parts(out)
    probe = live[:20]
    pm_mani = engine.part_meta(out, parts=probe)
    bare = [dict(s, manifest=None) for s in engine.snapshots(out)]
    pm_ckpt = engine.part_meta(out, parts=probe, snaps=bare)
    assert {p: pm_mani[p] for p in probe} == {p: pm_ckpt[p] for p in probe}


def test_compaction_consolidates_manifests(spark, tmp_path, monkeypatch):
    """A long-lived table accumulates one manifest per commit, so a cold
    driver's pruned read pays O(#snapshots) metadata opens. compact_table
    now writes a CONSOLIDATED manifest covering its full post-compaction
    live set (survivors folded from older manifests), and part_meta walks
    manifests newest-first with early exit — so after the compaction the
    same cold pruned read opens ≤ 2 metadata files regardless of how many
    commits preceded it (the Iceberg rewrite_manifests posture)."""
    from pyspark.sql import functions as F

    from sparkcodec import engine

    out = str(tmp_path / "consol")
    df = spark.range(200).select(F.col("id"), (F.col("id") % 4).alias("g"))
    engine.encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                        num_parts=2, target_part_rows=100, resume=False)
    n_appends = 24
    for i in range(n_appends):
        lo = 200 + 50 * i
        engine.encode_table(
            spark,
            spark.range(lo, lo + 50).select(
                F.col("id"), (F.col("id") % 4).alias("g")
            ),
            out, append=True, cluster_by=["g"], salt_by=["id"],
            num_parts=1, target_part_rows=100,
        )

    calls = {"ckpt": 0, "mani": 0}
    orig_c, orig_m = engine._checkpoint_prune_meta, engine._read_manifest

    def count_c(*a):
        calls["ckpt"] += 1
        return orig_c(*a)

    def count_m(*a):
        calls["mani"] += 1
        return orig_m(*a)

    monkeypatch.setattr(engine, "_checkpoint_prune_meta", count_c)
    monkeypatch.setattr(engine, "_read_manifest", count_m)

    def cold_pruned_read():
        calls["ckpt"] = calls["mani"] = 0
        engine._MANIFEST_CACHE.clear()
        # pruning is conservative (kept parts may hold non-matching
        # rows) — compose with the exact filter, as decode_table documents
        return (
            engine.decode_table(spark, out, where=("id", 0, 99))
            .where("id <= 99").count()
        )

    n_before = cold_pruned_read()
    opens_before = calls["mani"] + calls["ckpt"]
    assert opens_before > n_appends  # one manifest per commit, all read

    r = engine.compact_table(spark, out, target_part_rows=100_000)
    assert r["parts_created"] >= 1
    n_after = cold_pruned_read()
    opens_after = calls["mani"] + calls["ckpt"]
    assert n_after == n_before == 100
    assert opens_after <= 2, f"cold pruned read opened {opens_after} files"
    # full (unpruned) metadata is intact after consolidation
    live = engine.snapshot_parts(out)
    pm = engine.part_meta(out, parts=live)
    assert set(pm) >= set(live)
    assert sum(d["n_rows"] for p, d in pm.items() if p in set(live)) \
        == 200 + 50 * n_appends


def test_manifest_lifecycle_expire_and_vacuum(spark, tmp_path):
    """Manifests follow their entries through the table lifecycle: every
    commit kind carries one; expire consolidates the squashed root's and
    deletes dropped entries' files; vacuum reclaims a crashed commit's
    orphan manifest; pruned reads stay correct throughout."""
    import os as _os

    from pyspark.sql import functions as F

    from sparkcodec import engine

    out = str(tmp_path / "manilife")
    df = spark.range(400).select(F.col("id"), (F.col("id") % 4).alias("g"))
    engine.encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                        num_parts=4, target_part_rows=100, resume=False)
    engine.encode_table(spark, df.withColumn("id", F.col("id") + 400), out,
                        append=True, cluster_by=["g"], salt_by=["id"],
                        num_parts=2, target_part_rows=200)
    engine.delete_rows(spark, out, ("id", 0, 9))
    engine.upsert_rows(spark, spark.createDataFrame(
        [(5, 1), (9999, 2)], "id long, g long"),
        out, "id", cluster_by=["g"], salt_by=["id"], num_parts=1)
    for s in engine.snapshots(out):
        assert s.get("manifest"), f"entry {s['id']} lacks a manifest"
    mdir = _os.path.join(out, "_manifests")
    # orphan manifest: crashed commit (deferred append never published)
    engine.encode_table(spark, df.withColumn("id", F.col("id") + 9000), out,
                        append=True, commit=False, resume=False,
                        cluster_by=["g"], salt_by=["id"], num_parts=1)
    orphan_manifest = engine.write_manifest(out, engine.snapshot_parts(out)[:1])
    n_before = len(_os.listdir(mdir))
    engine.vacuum_orphans(out, include_pending=True)
    live_names = {s.get("manifest") for s in engine.snapshots(out)}
    assert set(_os.listdir(mdir)) == live_names  # orphan reclaimed
    assert len(_os.listdir(mdir)) < n_before
    # expire: squashed root gets a CONSOLIDATED manifest; dead ones go
    engine.expire_snapshots(out, keep_last=1)
    snaps = engine.snapshots(out)
    assert len(snaps) == 1 and snaps[0]["manifest"]
    assert set(_os.listdir(mdir)) == {snaps[0]["manifest"]}
    pm = engine.part_meta(out, parts=engine.snapshot_parts(out))
    assert set(pm) == set(engine.snapshot_parts(out))
    got = engine.decode_table(spark, out, where=("id", 5, 5)).filter(
        "id = 5").collect()
    assert [(r["id"], r["g"]) for r in got] == [(5, 1)]  # the upserted row


# ---------------------------------------------------------------------------
# optimistic concurrency (Iceberg-style non-conflicting commits)


def _snap_chain_is_linear(snaps):
    """Every entry's parent is the previous entry's id (after the root)."""
    for prev, cur in zip(snaps, snaps[1:]):
        if cur["parent"] != prev["id"]:
            return False
    return True


def test_optimistic_appends_both_commit_and_linearize(spark, tmp_path):
    """Two optimistic appends running CONCURRENTLY (no single-writer
    lease held during the encode) both commit; the snapshot log
    linearizes; part ids are disjoint (range reservations); no
    reservation or lock files survive."""
    import os as _os
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from sparkcodec import engine

    out = str(tmp_path / "opt_appends")
    df = spark.range(300).select(F.col("id"), (F.col("id") % 3).alias("g"))
    engine.encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                        num_parts=2, target_part_rows=150, resume=False)

    def appender(lo):
        d = spark.range(lo, lo + 50).select(
            F.col("id"), (F.col("id") % 3).alias("g"))
        return engine.encode_table(
            spark, d, out, cluster_by=["g"], salt_by=["id"], num_parts=2,
            target_part_rows=150, append=True, concurrency="optimistic")

    with ThreadPoolExecutor(2) as ex:
        r1, r2 = list(ex.map(appender, [1000, 2000]))
    assert r1["parts_encoded"] == 2 and r2["parts_encoded"] == 2

    snaps = engine.snapshots(out)
    assert len(snaps) == 3  # root + both appends
    assert _snap_chain_is_linear(snaps)
    a1, a2 = snaps[1]["new_parts"], snaps[2]["new_parts"]
    assert not set(a1) & set(a2)  # reservation-disjoint ids
    assert engine.decode_table(spark, out).count() == 400
    assert engine.reserved_parts(out) == set()  # released at commit
    assert not _os.path.exists(_os.path.join(out, "_writer.lock"))
    # ids never reused: the appends' parts sit above the root's
    assert min(a1 + a2) > max(snaps[0]["new_parts"])


def test_optimistic_compaction_with_concurrent_append_both_commit(spark, tmp_path):
    """append ∥ compaction: an exclusive append lands BETWEEN the
    optimistic compaction's rewrite and its commit (via the test seam);
    the compaction validates at the new tip and still commits — both
    snapshots land, rows from both survive."""
    from pyspark.sql import functions as F

    from sparkcodec import engine

    out = str(tmp_path / "opt_compact")
    df = spark.range(600).select(F.col("id"), (F.col("id") % 3).alias("g"))
    engine.encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                        num_parts=6, target_part_rows=100, resume=False)

    def concurrent_append():
        d = spark.range(5000, 5040).select(
            F.col("id"), (F.col("id") % 3).alias("g"))
        engine.encode_table(spark, d, out, cluster_by=["g"], salt_by=["id"],
                            num_parts=1, target_part_rows=100, append=True)

    r = engine.compact_table(spark, out, target_part_rows=400,
                             concurrency="optimistic",
                             _pre_commit_hook=concurrent_append)
    assert r["parts_removed"] >= 2 and r["parts_created"] >= 1
    snaps = engine.snapshots(out)
    assert len(snaps) == 3  # root, append, compaction
    assert snaps[1].get("compaction") is None  # the append
    assert snaps[2]["compaction"] is True
    assert _snap_chain_is_linear(snaps)
    # the concurrent append's rows survive the compaction commit
    assert engine.decode_table(spark, out).count() == 640
    assert engine.decode_table(spark, out).filter("id >= 5000").count() == 40
    assert engine.reserved_parts(out) == set()


def test_optimistic_compaction_conflict_refuses_and_reservation_protects(
    spark, tmp_path
):
    """compaction ∥ DELETE on a part being rewritten: the validated
    commit refuses (ConcurrentWriterError), the table reflects only the
    delete, and the rewrite's orphan files stay protected by the
    reservation until its lease expires — then vacuum reclaims them."""
    import json as _json
    import os as _os
    import time as _time

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec import engine

    out = str(tmp_path / "opt_conflict")
    df = spark.range(600).select(F.col("id"), (F.col("id") % 3).alias("g"))
    engine.encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                        num_parts=6, target_part_rows=100, resume=False)
    n_live0 = len(engine.snapshot_parts(out))

    def concurrent_delete():
        # rewrites/removes every part holding ids 0..299 — guaranteed to
        # intersect the compaction's removed set (it rewrites ALL parts)
        engine.delete_rows(spark, out, ("id", 0, 299))

    with _pytest.raises(engine.ConcurrentWriterError, match="lost its race"):
        engine.compact_table(spark, out, target_part_rows=400,
                             concurrency="optimistic",
                             _pre_commit_hook=concurrent_delete)

    # table state: only the delete landed
    assert engine.decode_table(spark, out).count() == 300
    snaps = engine.snapshots(out)
    assert snaps[-1].get("delete") is not None
    # the failed rewrite kept its reservation: vacuum must NOT reclaim
    rsv = engine.reserved_parts(out)
    assert rsv, "conflicted compaction should keep its reservation"
    v1 = engine.vacuum_orphans(out)
    assert engine.reserved_parts(out) == rsv  # still protected
    # expire the reservation lease, then vacuum reclaims the orphans
    rdir = _os.path.join(out, "_reservations")
    for f in _os.listdir(rdir):
        p = _os.path.join(rdir, f)
        with open(p) as fh:
            rec = _json.load(fh)
        rec["ts"] = _time.time() - 2 * rec["lease_sec"] - 1
        with open(p, "w") as fh:
            _json.dump(rec, fh)
    v2 = engine.vacuum_orphans(out)
    assert v2["files_deleted"] > v1["files_deleted"] or v2["parts_vacuumed"] > 0
    assert engine.reserved_parts(out) == set()
    # decode still exact after the sweep
    assert engine.decode_table(spark, out).count() == 300
    assert n_live0 >= 2  # sanity on the fixture (one part per g-group)


def test_optimistic_mode_validations(spark, tmp_path):
    """The lock-free path refuses the shapes it cannot make safe:
    fresh tables, aligned layout, deferred commits, non-append runs."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec import engine

    out = str(tmp_path / "opt_validate")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("g"))

    with _pytest.raises(ValueError, match="append=True"):
        engine.encode_table(spark, df, out, num_parts=1, resume=False,
                            concurrency="optimistic")
    with _pytest.raises(ValueError, match="existing snapshot-logged"):
        engine.encode_table(spark, df, out, num_parts=1, append=True,
                            concurrency="optimistic")
    engine.encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                        num_parts=1, resume=False)
    with _pytest.raises(ValueError, match="aligned"):
        engine.encode_table(spark, df, out, layout="aligned", append=True,
                            concurrency="optimistic")
    with _pytest.raises(ValueError, match="cannot defer"):
        engine.encode_table(spark, df, out, num_parts=1, append=True,
                            commit=False, concurrency="optimistic")
    with _pytest.raises(ValueError, match="concurrency must be"):
        engine.encode_table(spark, df, out, num_parts=1, append=True,
                            concurrency="eventually")


def test_reservation_floors_exclusive_base(spark, tmp_path):
    """An unexpired reservation (in-flight optimistic writer with no
    checkpoints on disk yet) floors the ids of a concurrent EXCLUSIVE
    append — no collision; releasing frees the range for reuse."""
    from pyspark.sql import functions as F

    from sparkcodec import engine

    out = str(tmp_path / "resv_floor")
    df = spark.range(200).select(F.col("id"), (F.col("id") % 3).alias("g"))
    engine.encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                        num_parts=2, target_part_rows=100, resume=False)

    res = engine.reserve_part_range(out, 5, "encode")
    assert res["base"] == 2 and engine.reserved_parts(out) == {2, 3, 4, 5, 6}
    # a second reservation claims PAST the first
    res2 = engine.reserve_part_range(out, 3, "encode")
    assert res2["base"] == 7

    d = spark.range(900, 950).select(F.col("id"), (F.col("id") % 3).alias("g"))
    engine.encode_table(spark, d, out, cluster_by=["g"], salt_by=["id"],
                        num_parts=1, target_part_rows=100, append=True)
    appended = engine.snapshots(out)[-1]["new_parts"]
    assert min(appended) >= 10  # above BOTH reserved ranges

    engine.release_part_range(out, res)
    engine.release_part_range(out, res2)
    assert engine.reserved_parts(out) == set()
    assert engine.decode_table(spark, out).count() == 250


def test_reservation_respects_crashed_pending_append(spark, tmp_path):
    """reserve_part_range must not hand out ids inside a crashed
    exclusive append's planned range (its parts may have no checkpoints
    yet but WILL be rewritten by a resume): bounded pendings raise the
    floor past base+num_parts; unbounded ones (no recorded part count)
    refuse with the resume/vacuum remedies."""
    import json as _json

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        ConcurrentWriterError,
        release_part_range,
        reserve_part_range,
    )

    out = str(tmp_path / "t")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("g"))
    from sparkcodec.engine import encode_table

    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=2, resume=False)
    meta = _json.load(open(f"{out}/_table_meta.json"))
    cfg = {k: meta[k] for k in ("num_parts", "layout", "cluster_by",
                                "salt_by", "columns", "zorder_by",
                                "target_part_rows")}
    cfg["num_parts"] = 6
    with open(f"{out}/_pending_append.json", "w") as fh:
        _json.dump({"base": 3, "config": cfg, "branch": None}, fh)
    res = reserve_part_range(out, 4, "test")
    assert res["base"] >= 3 + 6, res  # past the crashed run's whole range
    release_part_range(out, res)
    cfg2 = dict(cfg, num_parts=None)  # unbounded: aligned/derived count
    with open(f"{out}/_pending_append.json", "w") as fh:
        _json.dump({"base": 3, "config": cfg2, "branch": None}, fh)
    with _pytest.raises(ConcurrentWriterError, match="unbounded part count"):
        reserve_part_range(out, 4, "test")
    import os as _os

    _os.remove(f"{out}/_pending_append.json")


def test_unreadable_reservation_protects_generously(spark, tmp_path):
    """An unreadable reservation body must protect MORE than one part id:
    the range's true extent is unknowable, and an n=1 guess would let a
    second writer reserve inside an in-flight writer's range."""
    import os as _os

    from pyspark.sql import functions as F

    from sparkcodec.engine import encode_table, reserve_part_range, reserved_parts

    out = str(tmp_path / "t")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=2, resume=False)
    _os.makedirs(f"{out}/_reservations", exist_ok=True)
    with open(f"{out}/_reservations/0000000005.json", "w") as fh:
        fh.write("{corrupt")  # transiently unreadable body
    assert len(reserved_parts(out)) > 1000  # generous, not n=1
    res = reserve_part_range(out, 2, "test")
    assert res["base"] >= 5 + (1 << 20)


def test_optimistic_commit_stamps_commit_time_schema(spark, tmp_path):
    """An optimistic append planned before a concurrent add-column
    evolution must stamp the MERGED schema on its entry: the entry
    becomes the tip and default reads overlay the tip's schema, so the
    planning-time schema would hide the concurrently added column."""
    import json as _json

    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        _commit_optimistic_append,
        decode_table,
        encode_table,
        snapshots,
    )

    out = str(tmp_path / "t")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=1, resume=False)
    # concurrent widen: an append lands column "extra" at the tip
    encode_table(
        spark,
        spark.range(100, 150).select(
            F.col("id"), (F.col("id") % 3).alias("g"),
            F.lit(1).cast("long").alias("extra"),
        ),
        out, append=True, cluster_by=["g"], salt_by=["id"], num_parts=1,
    )
    assert "extra" in decode_table(spark, out).columns
    # a stale-planned optimistic commit (planning meta predates "extra")
    stale_meta = _json.load(open(f"{out}/_table_meta.json"))
    stale_meta = dict(stale_meta, columns=["id", "g"],
                      schema={"id": "i64", "g": "i64"})
    entry = {"new_parts": [], "n_rows": 0, "enc_bytes": 0,
             "layout": "clustered", "columns": ["id", "g"],
             "schema": {"id": "i64", "g": "i64"}, "ts": 0.0}
    _commit_optimistic_append(out, entry, stale_meta, None, None)
    tip = snapshots(out)[-1]
    assert "extra" in tip["schema"], tip
    assert "extra" in decode_table(spark, out).columns  # still readable


def test_bloom_key_nonfinite_decimal():
    """Non-finite Decimal probes key like their float twins instead of
    crashing the read."""
    from decimal import Decimal

    from sparkcodec.engine import _bloom_key

    assert _bloom_key(Decimal("NaN")) == _bloom_key(float("nan"))
    assert _bloom_key(Decimal("Infinity")) == _bloom_key(float("inf"))
    assert _bloom_key(Decimal("3")) == _bloom_key(3)


def test_drop_column_metadata_only(spark, tmp_path):
    """drop_column narrows the tip schema without touching part files:
    tip reads lose the column, time travel to the pre-drop snapshot
    still reconstructs it, appends validate against the narrowed shape,
    and re-adding the name allocates a FRESH field id — pre-drop parts
    decode the re-added name as NULL, never as the retired field's
    historical values (Iceberg field-id identity)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import decode_table, drop_column, encode_table

    out = str(tmp_path / "t")
    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 2).alias("v"),
    )
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=2, resume=False)
    r = drop_column(out, "v")
    assert r["columns"] == ["id", "g"]
    tip = decode_table(spark, out)
    assert tip.columns == ["id", "g"] and tip.count() == 200
    pre = decode_table(spark, out, snapshot_id=1)
    assert "v" in pre.columns and pre.where("v = id * 2").count() == 200
    with _pytest.raises(ValueError, match="unknown column"):
        drop_column(out, "nope")
    # append without the column: clean; with it: add-column evolution
    encode_table(spark, df.select("id", "g"), out, append=True,
                 cluster_by=["g"], salt_by=["id"], num_parts=1)
    assert decode_table(spark, out).count() == 400
    encode_table(spark, df, out, append=True, cluster_by=["g"],
                 salt_by=["id"], num_parts=1)
    back = decode_table(spark, out)
    assert "v" in back.columns
    # field-id identity: snapshot-1 parts hold the RETIRED field's bytes;
    # the tip decodes them as NULL (only the re-added rows carry values)
    assert back.where("v IS NOT NULL").count() == 200
    assert back.where("v = id * 2 AND v IS NOT NULL").count() == 200
    # 400 rows were written before the re-add (snap 1 + column-less
    # append): all of them read NULL v at the tip
    assert back.where("v IS NULL").count() == 400
    # pre-drop time travel still shows the original values
    assert decode_table(spark, out, snapshot_id=1) \
        .where("v = id * 2").count() == 200


def test_field_id_identity_survives_rewrites_and_expire(spark, tmp_path):
    """Drop + re-add, then push the table through compaction and expire:
    the retired field's values must never resurrect — the rewrite decodes
    ghosted columns as NULL and stamps current ids on merged parts, and
    the per-part ids ride the prune-meta container through manifest
    consolidation. A range delete after the re-add must also not revive
    ghost values in its rewrite survivors."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        compact_table,
        decode_table,
        delete_rows,
        drop_column,
        encode_table,
        expire_snapshots,
    )

    out = str(tmp_path / "t")
    df = spark.range(300).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 2).alias("v"),
    )
    kw = dict(cluster_by=["g"], salt_by=["id"], num_parts=3)
    encode_table(spark, df, out, resume=False, **kw)
    drop_column(out, "v")
    re_add = spark.range(300, 400).select(
        F.col("id"), (F.col("id") % 3).alias("g"),
        (F.col("id") + 7).alias("v"),
    )
    encode_table(spark, re_add, out, append=True, **kw)

    def check(tag):
        d = decode_table(spark, out)
        assert d.where("v IS NOT NULL").count() == 100, tag
        assert d.where("v = id + 7").count() == 100, tag
        assert d.where("id < 300 AND v IS NOT NULL").count() == 0, tag

    check("after re-add")
    compact_table(spark, out, target_part_rows=100_000)
    check("after compaction")  # rewrite must not revive ghost bytes
    delete_rows(spark, out, ("id", 0, 49))
    d = decode_table(spark, out)
    assert d.count() == 350
    assert d.where("id < 300 AND v IS NOT NULL").count() == 0
    expire_snapshots(out, keep_last=1)
    d = decode_table(spark, out)
    assert d.count() == 350
    assert d.where("v IS NOT NULL").count() == 100
    assert d.where("id < 300 AND v IS NOT NULL").count() == 0


def test_delete_rows_conjunction_and_in(spark, tmp_path):
    """delete_rows takes decode_table's predicate algebra: a conjunction
    of a range and an IN-list deletes exactly the AND of both; a
    predicate on an unknown column refuses; NULLs never match."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import decode_table, delete_rows, encode_table

    out = str(tmp_path / "t")
    df = spark.range(300).select(
        F.col("id"),
        (F.col("id") % 5).alias("g"),
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id") * 2).alias("v"),
    )
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=2, resume=False)
    r = delete_rows(spark, out, [("g", [1, 3]), ("id", 50, 199)])
    expect_deleted = sum(1 for i in range(50, 200) if i % 5 in (1, 3))
    assert r["rows_deleted"] == expect_deleted
    dec = decode_table(spark, out)
    assert dec.count() == 300 - expect_deleted
    assert dec.where("g IN (1,3) AND id BETWEEN 50 AND 199").count() == 0
    assert dec.where("g IN (1,3)").count() > 0  # outside the range kept
    with _pytest.raises(ValueError, match="unknown column"):
        delete_rows(spark, out, [("nope", 0, 1)])
    # NULL never matches: delete on v range keeps the NULL-v rows
    before_nulls = dec.where("v IS NULL").count()
    delete_rows(spark, out, ("v", 0, 10_000))
    after = decode_table(spark, out)
    assert after.where("v IS NULL").count() == before_nulls
    assert after.where("v IS NOT NULL").count() == 0


def test_rename_column_metadata_only(spark, tmp_path):
    """rename_column moves the NAME, not the field id: old parts keep
    their block files, reads resolve the new name through per-part field
    ids (engine decode AND pushdown block pruning), time travel reads
    the old name, appends write under the new name, and a compaction
    makes the rename physical."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        compact_table,
        decode_table,
        encode_table,
        rename_column,
        snapshots,
    )

    out = str(tmp_path / "t")
    df = spark.range(300).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 2).alias("v"),
    )
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=3, resume=False)
    r = rename_column(out, "v", "val")
    assert r["renamed"] == ["v", "val"]
    tip = decode_table(spark, out)
    assert "val" in tip.columns and "v" not in tip.columns
    # values survive the rename — resolved from the old block files
    assert tip.where("val = id * 2").count() == 300
    # block-level pruning follows the alias (predicate on the new name)
    pruned = decode_table(spark, out, where=("val", 0, 98)).where("val <= 98")
    assert pruned.count() == 50
    # time travel: pre-rename snapshot still reads the old name
    pre = decode_table(spark, out, snapshot_id=1)
    assert "v" in pre.columns and pre.where("v = id * 2").count() == 300
    with _pytest.raises(ValueError, match="already exists"):
        rename_column(out, "id", "val")
    with _pytest.raises(ValueError, match="unknown column"):
        rename_column(out, "nope", "x")
    # appends write under the NEW name with the SAME field id
    encode_table(
        spark,
        spark.range(300, 400).select(
            F.col("id"), (F.col("id") % 3).alias("g"),
            (F.col("id") * 2).alias("val"),
        ),
        out, append=True, cluster_by=["g"], salt_by=["id"], num_parts=1,
    )
    assert decode_table(spark, out).where("val = id * 2").count() == 400
    # a rewrite makes the rename physical: no aliases needed afterwards
    compact_table(spark, out, target_part_rows=1_000_000)
    assert decode_table(spark, out).where("val = id * 2").count() == 400
    pm_fids = {
        s.get("rename_column")[0] if s.get("rename_column") else None
        for s in snapshots(out)
    }
    assert "v" in pm_fids  # the rename entry is in the log


def test_rename_column_datasource_and_cdc(spark, tmp_path):
    """The rename resolves through the DataSource batch reader (with
    filter pushdown on the renamed column) and through CDC key decoding
    — a renamed key column still diffs the old parts' keys."""
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import (
        delete_rows,
        encode_table,
        rename_column,
        table_changes,
    )

    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "t")
    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 2).alias("v"),
    )
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=2, resume=False)
    rename_column(out, "id", "doc")
    ds = spark.read.format("sparkcodec").load(out)
    assert ds.columns == ["doc", "g", "v"]
    assert ds.where("doc < 50").count() == 50  # pushdown via the alias
    assert ds.where("v = doc * 2").count() == 200
    # CDC on the renamed key: the delete's preimage keys resolve from
    # the old block files
    delete_rows(spark, out, ("doc", 0, 9))
    ch = table_changes(spark, out, "doc")
    dels = sorted(r["doc"] for r in ch.where("op = 'delete'").collect())
    assert dels == list(range(10))


def test_objectstore_field_id_and_rename_lifecycle(spark, tmp_path):
    """Round-6 surfaces through the object-store seam (mock://): field-id
    drop→re-add (no resurrection), rename (alias reads), replay rebase
    via merge_branch — all against whole-object atomic PUT semantics."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        create_branch,
        decode_table,
        delete_rows,
        drop_column,
        encode_table,
        merge_branch,
        rename_column,
        upsert_rows,
    )

    out = "mock://" + str(tmp_path / "os6")
    df = spark.range(400).select(
        F.col("id"), (F.col("id") % 4).alias("g"), (F.col("id") * 2).alias("v"),
    )
    kw = dict(cluster_by=["g"], salt_by=["id"], num_parts=2)
    encode_table(spark, df, out, resume=False, **kw)
    # drop + re-add: ghosts through the object-store read path
    drop_column(out, "v")
    encode_table(
        spark,
        spark.range(400, 450).select(
            F.col("id"), (F.col("id") % 4).alias("g"),
            (F.col("id") + 1).alias("v"),
        ),
        out, append=True, **kw,
    )
    d = decode_table(spark, out)
    assert d.where("v IS NOT NULL").count() == 50
    assert d.where("id < 400 AND v IS NOT NULL").count() == 0
    # rename: alias decode + pruned read through the seam
    rename_column(out, "v", "w")
    d = decode_table(spark, out, where=("w", 401, None)).where("w >= 401")
    assert d.count() == 50
    # replay rebase on the object store
    create_branch(out, "dev")
    up = spark.createDataFrame([(10, 2, -1), (9000, 0, -1)],
                               "id long, g long, w long")
    upsert_rows(spark, up, out, "id", branch="dev", **kw)
    delete_rows(spark, out, ("id", 0, 4))  # main diverges
    r = merge_branch(out, "dev", spark=spark)
    assert r["fast_forwarded"] is True
    d = decode_table(spark, out)
    assert d.where("id < 5").count() == 0
    assert d.where("w = -1").count() == 2
    assert d.count() == 450 - 5 + 1  # 450 rows, minus delete 0-4, plus id 9000


def test_auto_manifest_consolidation_bounds_cold_reads(spark, tmp_path, monkeypatch):
    """A pure-append table that NEVER compacts still keeps cold pruned
    reads bounded: every _CONSOLIDATE_EVERY main-chain commits, the
    commit's manifest covers the full live set (manifest_full), so
    part_meta's newest-first early exit stops within one consolidation
    window regardless of total commit count."""
    from pyspark.sql import functions as F

    from sparkcodec import engine

    monkeypatch.setattr(engine, "_CONSOLIDATE_EVERY", 6)
    out = str(tmp_path / "auto")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 4).alias("g"))
    engine.encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                        num_parts=2, target_part_rows=100, resume=False)
    for i in range(16):
        lo = 100 + 50 * i
        engine.encode_table(
            spark,
            spark.range(lo, lo + 50).select(
                F.col("id"), (F.col("id") % 4).alias("g")
            ),
            out, append=True, cluster_by=["g"], salt_by=["id"],
            num_parts=1, target_part_rows=100,
        )
    snaps = engine.snapshots(out)
    fulls = [s["id"] for s in snaps if s.get("manifest_full")]
    assert fulls, "no auto-consolidated manifest committed"

    calls = {"n": 0}
    orig = engine._read_manifest

    def count(*a):
        calls["n"] += 1
        return orig(*a)

    monkeypatch.setattr(engine, "_read_manifest", count)
    engine._MANIFEST_CACHE.clear()
    n = (engine.decode_table(spark, out, where=("id", 0, 99))
         .where("id <= 99").count())
    assert n == 100
    # bound: commits since the newest full manifest, plus the full one
    since = len([s for s in snaps if s["id"] > max(fulls) and s.get("manifest")])
    assert calls["n"] <= since + 1 <= engine._CONSOLIDATE_EVERY + 1
    # metadata correctness after consolidation: rows account exactly
    live = engine.snapshot_parts(out)
    pm = engine.part_meta(out, parts=live)
    assert sum(pm[p]["n_rows"] for p in live) == 100 + 16 * 50


def test_table_column_stats_after_rename_and_readd(spark, tmp_path):
    """Metadata-only stats stay EXACT through field-id evolution: a
    renamed column folds old parts' stats from their storage name, and
    a dropped-and-re-added column's old parts count as all-NULL —
    before the fix the rename silently treated old parts as all-NULL
    (wrong nulls) and the re-add read the dead field's min/max, both
    flagged exact."""
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        drop_column,
        encode_table,
        rename_column,
        table_column_stats,
    )

    out = str(tmp_path / "t")
    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 2).alias("v"),
    )
    kw = dict(cluster_by=["g"], salt_by=["id"], num_parts=2)
    encode_table(spark, df, out, resume=False, **kw)
    rename_column(out, "v", "val")
    encode_table(
        spark,
        spark.range(200, 250).select(
            F.col("id"), (F.col("id") % 3).alias("g"),
            (F.col("id") * 2).alias("val"),
        ),
        out, append=True, **kw,
    )
    st = table_column_stats(out)["val"]
    assert st == {"min": 0, "max": 498, "nulls": 0, "rows": 250, "exact": True}

    # drop + re-add: old parts all-NULL, stats come from the new field only
    drop_column(out, "val")
    encode_table(
        spark,
        spark.range(250, 300).select(
            F.col("id"), (F.col("id") % 3).alias("g"),
            (F.col("id") + 1000).alias("val"),
        ),
        out, append=True, **kw,
    )
    st = table_column_stats(out)["val"]
    assert st["min"] == 1250 and st["max"] == 1299
    assert st["nulls"] == 250 and st["rows"] == 300 and st["exact"] is True


def test_add_column_with_default(spark, tmp_path):
    """add_column(default=): rows written BEFORE the add read the
    default; rows written after keep stored values INCLUDING stored
    NULLs (a coalesce could not make that distinction); predicates on
    the defaulted column skip pruning (pre-add parts have no stats or
    block files, so every pruning structure would misjudge them); a
    compaction materializes the default physically; the DataSource
    reader fills identically."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import add_column, compact_table, decode_table, encode_table

    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "t")
    df = spark.range(200).select(F.col("id"), (F.col("id") % 3).alias("g"))
    kw = dict(cluster_by=["g"], salt_by=["id"], num_parts=2)
    encode_table(spark, df, out, resume=False, **kw)
    with _pytest.raises(ValueError, match="already exists"):
        add_column(out, "id", "i64")
    with _pytest.raises(Exception):
        add_column(out, "score", "i64", default="not-an-int")
    r = add_column(out, "score", "i64", default=7)
    assert r["default"] == 7
    encode_table(
        spark,
        spark.range(200, 300).select(
            F.col("id"), (F.col("id") % 3).alias("g"),
            F.when(F.col("id") % 11 == 0, None)
            .otherwise(F.col("id") % 5).alias("score"),
        ),
        out, append=True, **kw,
    )

    def check(d, tag):
        assert d.where("id < 200 AND score = 7").count() == 200, tag
        n_null = sum(1 for i in range(200, 300) if i % 11 == 0)
        assert d.where("score IS NULL").count() == n_null, tag
        assert d.where("id >= 200 AND score = id % 5").count() == 100 - n_null, tag
        # pruned read on the defaulted column still returns default rows
        p = decode_table(spark, out, where=("score", 7, 7)) if tag != "ds" else d
        assert p.where("score = 7").count() == 200, tag

    check(decode_table(spark, out), "engine")
    check(spark.read.format("sparkcodec").load(out), "ds")
    # DS pushdown on the defaulted column must not prune default rows
    ds = spark.read.format("sparkcodec").load(out)
    assert ds.filter("score = 7").count() == 200
    compact_table(spark, out, target_part_rows=1_000_000)
    check(decode_table(spark, out), "post-compact")
    # after materialization, time travel pre-add still has no column
    pre = decode_table(spark, out, snapshot_id=1)
    assert "score" not in pre.columns


def test_optimistic_append_refuses_on_field_id_conflict(spark, tmp_path):
    """Two writers that each planned the SAME next field id for different
    new columns must not both commit optimistically: the loser's parts
    stamped a field id the re-merge reassigns, so its commit refuses
    loudly instead of persisting conflicting column identities."""
    import json as _json

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.engine import (
        ConcurrentWriterError,
        _commit_optimistic_append,
        encode_table,
    )

    out = str(tmp_path / "fidconflict")
    df = spark.range(50).select(F.col("id"), (F.col("id") % 2).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=1, resume=False)
    base_meta = _json.load(open(f"{out}/_table_meta.json"))
    # writer A landed column "a" at the tip and took the next field id
    encode_table(
        spark,
        spark.range(50, 60).select(
            F.col("id"), (F.col("id") % 2).alias("g"),
            F.lit(1).cast("long").alias("a"),
        ),
        out, append=True, cluster_by=["g"], salt_by=["id"], num_parts=1,
    )
    # writer B planned column "b" against the PRE-A meta: its planning
    # run allocated the same next_field_id for "b" that A used for "a"
    planned = dict(
        base_meta,
        columns=base_meta["columns"] + ["b"],
        schema={**base_meta["schema"], "b": "i64"},
        field_ids={**base_meta["field_ids"], "b": base_meta["next_field_id"]},
    )
    entry = {"new_parts": [], "n_rows": 0, "enc_bytes": 0,
             "layout": "clustered", "columns": planned["columns"],
             "schema": planned["schema"], "ts": 0.0}
    with _pytest.raises(ConcurrentWriterError, match="field ids"):
        _commit_optimistic_append(out, entry, planned, None, None)


def test_manifests_since_full_ignores_branch_and_bare_markers():
    """The consolidation counter must count only main-chain manifests and
    reset only on genuinely FULL-coverage ones — branch commits and bare
    compaction/tag_only markers neither reset nor inflate it."""
    from sparkcodec.engine import _manifests_since_full

    snaps = [
        {"id": 1, "manifest": "m1", "manifest_full": True},
        {"id": 2, "manifest": "m2"},
        {"id": 3, "manifest": "m3", "branch": "dev"},  # not main-chain
        {"id": 4, "manifest": "m4", "compaction": True},  # partial: no full flag
        {"id": 5, "tag_only": True},  # no manifest at all
        {"id": 6, "manifest": "m6"},
    ]
    assert _manifests_since_full(snaps) == 3  # m2, m4, m6
    snaps.append({"id": 7, "manifest": "m7", "manifest_full": True})
    assert _manifests_since_full(snaps) == 0


def test_writer_lock_wait_is_bounded_under_turnover(tmp_path, monkeypatch):
    """The blocking acquire extends its deadline at most once (for the
    holder observed at entry): continuous holder turnover must not make
    the timeout parameter meaningless."""
    import json as _json
    import time as _time

    import pytest as _pytest

    from sparkcodec import engine as E

    out = str(tmp_path / "lk")
    import os as _os

    _os.makedirs(out, exist_ok=True)
    key = f"{out}/_writer.lock"

    def refresh_holder():
        # a fresh foreign holder every observation, each with a long lease
        _json.dump(
            {"ts": _time.time(), "lease_sec": 3.0, "op": "x",
             "pid": 999999, "token": "t"},
            open(key, "w"),
        )

    refresh_holder()
    orig_read = E._get_fs(out).read_bytes

    def read_and_refresh(path):
        b = orig_read(path)
        if path == key:
            refresh_holder()  # simulate turnover on every peek
        return b

    monkeypatch.setattr(E._get_fs(out), "read_bytes", read_and_refresh)
    monkeypatch.setattr(E, "_LOCK_EXTEND_SLACK", 0.5)
    t0 = _time.time()
    with _pytest.raises(E.ConcurrentWriterError):
        E._acquire_writer_lock_blocking(out, "test", timeout=0.5, lease_sec=3.0)
    waited = _time.time() - t0
    # one extension for the entry-time holder (3s lease + 0.5s slack) is
    # allowed; unbounded re-extension would never return at all (every
    # peek re-arms the deadline under turnover)
    assert waited < 8.0, waited
