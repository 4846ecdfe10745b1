"""The one scan planner (``engine._plan_scan``): every read and rewrite
surface resolves snapshot -> live parts -> field-id remap -> pruning the
same way, so they return the same rows.

The parity test runs the pruning fixture tables below through
``decode_table``, the batch DataSource and the ``where``/``where_any``
changefeed, and compares the planned part sets and block keep-ranges
with ``data/planner_parity.json``, captured from the per-surface
planning code the planner replaced."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# fixture tables (deterministic: fixed part counts, sort keys, block grids)

_KW = dict(cluster_by=["g"], sort_by=["id"], block_rows=40)


def build_zone(spark, out):
    """800 rows in 4 parts: zone maps on id, small value sets on g/s, and
    v all-NULL where g == 0 (null pruning)."""
    from sparkcodec.engine import encode_table

    df = spark.range(800).select(
        F.col("id"), (F.col("id") % 4).alias("g"),
        F.concat(F.lit("k"), (F.col("id") % 4) * 3 + F.col("id") % 3).alias("s"),
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id")).alias("v"),
    )
    encode_table(spark, df, out, num_parts=4, resume=False, **_KW)


def build_ghost(spark, out):
    """v dropped and re-added: the first 200 rows' parts hold v under a
    RETIRED field id (ghosts: they read all-NULL at the tip)."""
    from sparkcodec.engine import drop_column, encode_table

    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 2).alias("g"), (F.col("id") * 10).alias("v")
    )
    encode_table(spark, df, out, num_parts=2, resume=False, **_KW)
    drop_column(out, "v")
    encode_table(
        spark,
        spark.range(200, 300).select(
            F.col("id"), (F.col("id") % 2).alias("g"), (F.col("id") + 7).alias("v")
        ),
        out, num_parts=2, append=True, **_KW,
    )


def build_rename(spark, out):
    """v renamed to w: the first 200 rows' parts store w under its old
    name (aliases)."""
    from sparkcodec.engine import encode_table, rename_column

    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 2).alias("g"),
        F.when(F.col("id") % 2 == 0, None).otherwise(F.col("id") * 10).alias("v"),
    )
    encode_table(spark, df, out, num_parts=2, resume=False, **_KW)
    rename_column(out, "v", "w")
    encode_table(
        spark,
        spark.range(200, 300).select(
            F.col("id"), (F.col("id") % 2).alias("g"), (F.col("id") * 10).alias("w")
        ),
        out, num_parts=2, append=True, **_KW,
    )


def build_default(spark, out):
    """score added with default 7: the first 200 rows' parts have no
    block file, stats or null counts for it, yet read 7."""
    from sparkcodec.engine import add_column, encode_table

    df = spark.range(200).select(F.col("id"), (F.col("id") % 2).alias("g"))
    encode_table(spark, df, out, num_parts=2, resume=False, **_KW)
    add_column(out, "score", "i64", default=7)
    encode_table(
        spark,
        spark.range(200, 300).select(
            F.col("id"), (F.col("id") % 2).alias("g"),
            F.when(F.col("id") % 11 == 0, None)
            .otherwise(F.col("id") % 5).alias("score"),
        ),
        out, num_parts=2, append=True, **_KW,
    )


FIXTURE_TABLES = {
    "zone": build_zone, "ghost": build_ghost,
    "rename": build_rename, "default": build_default,
}

# name -> (where, where_any, DataSource filters). Filters are
# (kind, column, value) triples turned into pyspark.sql.datasource
# filter objects; None = the query has no form on that surface.
QUERIES = {
    "zone": {
        "range": (("id", 100, 180), None,
                  [("ge", "id", 100), ("le", "id", 180)]),
        "in": (("s", ["k1", "k4"]), None, [("in", "s", ("k1", "k4"))]),
        "conj": ([("g", [1]), ("id", 0, 400)], None,
                 [("in", "g", (1,)), ("ge", "id", 0), ("le", "id", 400)]),
        "dnf": (None, [[("g", [0])], [("id", 700, 760)]], None),
        "isnull": (None, None, [("isnull", "v", None)]),
        "notnull": (None, None, [("notnull", "v", None), ("le", "id", 300)]),
    },
    "ghost": {
        "range": (("v", 0, 5000), None, [("ge", "v", 0), ("le", "v", 5000)]),
        "in": (("v", [210, 20]), None, [("in", "v", (210, 20))]),
        "dnf": (None, [[("v", 200, 250)], [("id", 0, 10)]], None),
        "isnull": (None, None, [("isnull", "v", None)]),
        "notnull": (None, None, [("notnull", "v", None)]),
    },
    "rename": {
        "range": (("w", 500, 700), None, [("ge", "w", 500), ("le", "w", 700)]),
        "in": (("w", [30, 2500]), None, [("in", "w", (30, 2500))]),
        "dnf": (None, [[("w", 0, 100)], [("id", 250, 260)]], None),
        "notnull": (None, None, [("notnull", "w", None), ("le", "id", 50)]),
    },
    "default": {
        "point": (("score", 7, 7), None, [("eq", "score", 7)]),
        "in": (("score", [7, 3]), None, [("in", "score", (7, 3))]),
        "conj": ([("id", 150, 250), ("score", 0, 10)], None,
                 [("ge", "id", 150), ("le", "id", 250), ("ge", "score", 0)]),
        "isnull": (None, None, [("isnull", "score", None)]),
    },
}


def ds_filters(spec):
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThanOrEqual,
    )

    make = {
        "eq": lambda c, v: EqualTo((c,), v),
        "ge": lambda c, v: GreaterThanOrEqual((c,), v),
        "le": lambda c, v: LessThanOrEqual((c,), v),
        "in": lambda c, v: In((c,), tuple(v)),
        "isnull": lambda c, v: IsNull((c,)),
        "notnull": lambda c, v: IsNotNull((c,)),
    }
    return [make[k](c, v) for k, c, v in spec]


def table_schema(out):
    """The tip read schema as a StructType (what Spark hands reader())."""
    from pyspark.sql.types import _parse_datatype_string

    from sparkcodec.datasource import SparkcodecDataSource

    return _parse_datatype_string(SparkcodecDataSource({"path": out}).schema())


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("planner")
    out = {}
    for name, build in FIXTURE_TABLES.items():
        out[name] = str(root / name)
        build(spark, out[name])
    return out


# ---------------------------------------------------------------------------
# parity with the replaced per-surface planners


def _norm(pairs):
    """{pid: ranges} of parts that decode any row; None -> whole part."""
    out = {}
    for pid, r in pairs:
        if r is None or r:
            out[str(pid)] = None if r is None else [list(x) for x in r]
    return out


def _planned(spark, out, where, where_any, filters, monkeypatch):
    """{surface: {pid: ranges}} through each surface's own planning."""
    from sparkcodec import engine
    from sparkcodec.datasource import SparkcodecReader, SparkcodecStreamReader

    res = {}
    seen = []
    orig = engine._plan_scan

    def spy(*a, **k):
        seen.append(orig(*a, **k))
        return seen[-1]

    if where is not None or where_any is not None:
        monkeypatch.setattr(engine, "_plan_scan", spy)
        engine.decode_table(spark, out, where=where, where_any=where_any)
        monkeypatch.setattr(engine, "_plan_scan", orig)
        plan = seen[-1]
        res["decode_table"] = _norm(
            (e[0], plan.scan.ranges(e)) for e in plan.entries()
        )
        opts = {"path": out}
        if where is not None:
            opts["where"] = json.dumps(where)
        if where_any is not None:
            opts["where_any"] = json.dumps(where_any)
        sr = SparkcodecStreamReader(opts, table_schema(out))
        tip = sr.latestOffset()
        res["stream"] = _norm(
            (e[0], scan.ranges(e))
            for p in sr.partitions({"snapshot": 0}, tip)
            for scan, entries in [p.value]
            for e in entries
        )
    if filters is not None:
        r = SparkcodecReader({"path": out}, table_schema(out))
        r.pushFilters(ds_filters(filters))
        res["datasource"] = _norm(
            (e[0], scan.ranges(e))
            for p in r.partitions()
            for scan, entries in [p.value]
            for e in entries
        )
    return res


def _within(new, old):
    """Every row range of ``new`` lies inside ``old`` (None = all rows)."""
    if old is None:
        return True
    if new is None:
        return False
    return all(any(a <= s and e <= b for a, b in old) for s, e in new)


# Where the planner deliberately differs from a replaced copy. Each is a
# rule the copy lacked, applied once for every surface now:
# - ghost parts match no range/IN predicate; decode_table and the
#   changefeed used to keep them by the retired field's stats (the batch
#   DataSource already skipped them);
# - the batch DataSource never folded IN filters (it read a ``values``
#   field; pyspark's In carries ``value``), so an IN pruned nothing;
# - the changefeed never dropped predicates on defaulted columns, so it
#   pruned away every pre-add part, whose rows read the default (lost
#   rows; the planner keeps them).
_EXPECTED_DIFF = {
    ("ghost", "range", "decode_table"): "subset",
    ("ghost", "in", "decode_table"): "subset",
    ("ghost", "range", "stream"): "subset",
    ("ghost", "in", "stream"): "subset",
    ("zone", "in", "datasource"): "subset",
    ("zone", "conj", "datasource"): "subset",
    ("ghost", "in", "datasource"): "subset",
    ("rename", "in", "datasource"): "subset",
    ("default", "point", "stream"): "superset",
    ("default", "in", "stream"): "superset",
    ("default", "conj", "stream"): "superset",
}


def test_planner_parity_with_replaced_planners(spark, tables, monkeypatch):
    with open(os.path.join(os.path.dirname(__file__), "data",
                           "planner_parity.json")) as fh:
        want = json.load(fh)
    wrong = []
    checked = 0
    for fx, queries in QUERIES.items():
        for q, (where, where_any, filters) in queries.items():
            got = _planned(spark, tables[fx], where, where_any, filters,
                           monkeypatch)
            for surface, parts in got.items():
                old = want[fx][q][surface]
                tag = (fx, q, surface)
                new, prev = set(parts), set(old)
                how = ("same" if new == prev else "subset" if new < prev
                       else "superset" if new > prev else "differs")
                if how != _EXPECTED_DIFF.get(tag, "same"):
                    wrong.append((tag, how, sorted(new), sorted(prev)))
                for pid in new & prev:
                    if not _within(parts[pid], old[pid]):
                        wrong.append((tag, pid, parts[pid], old[pid]))
                checked += 1
    assert not wrong, "\n".join(map(str, wrong))
    assert checked == sum(len(want[fx][q]) for fx in want for q in want[fx])


def test_ds_in_list_prunes_blocks(spark, tables):
    """The batch DataSource folds pushed IN filters into IN-lists (it
    used to read a ``values`` field the filter does not have, so an IN
    never pruned) and hands them to the planner, so blocks whose
    [min, max] holds no probe value are skipped — fewer rows than the
    probe span alone keeps."""
    from sparkcodec.datasource import SparkcodecReader
    from sparkcodec.engine import _keep_row_ranges, _part_row_count

    out = tables["zone"]
    r = SparkcodecReader({"path": out}, table_schema(out))
    r.pushFilters(ds_filters([("in", "id", (5, 795))]))
    assert r.eqs == {"id": [5, 795]}
    kept = {
        e[0]: scan.ranges(e)
        for p in r.partitions() for scan, entries in [p.value] for e in entries
    }

    def rows(p, ranges):  # None = the whole part
        if ranges is None:
            return _part_row_count(out, p)
        return sum(b - a for a, b in ranges)

    n_in = sum(rows(p, rs) for p, rs in kept.items())
    n_span = sum(rows(p, _keep_row_ranges(out, p, ("id", 5, 795))) for p in kept)
    assert 0 < n_in < n_span


# ---------------------------------------------------------------------------
# wrong-result bugs of the replaced copies


def _default_table(spark, out):
    """200 rows, add_column(score, default=7), 100 rows with score = id % 5."""
    from sparkcodec.engine import add_column, encode_table

    kw = dict(cluster_by=["g"], salt_by=["id"], num_parts=2)
    encode_table(
        spark, spark.range(200).select(F.col("id"), (F.col("id") % 3).alias("g")),
        out, resume=False, **kw,
    )
    add_column(out, "score", "i64", default=7)
    encode_table(
        spark,
        spark.range(200, 300).select(
            F.col("id"), (F.col("id") % 3).alias("g"),
            (F.col("id") % 5).alias("score"),
        ),
        out, append=True, **kw,
    )


def test_table_column_stats_counts_add_column_defaults(spark, tmp_path):
    """Pre-add parts read the default: not NULL, and inside min/max."""
    from sparkcodec.engine import decode_table, table_column_stats

    out = str(tmp_path / "t")
    _default_table(spark, out)
    assert decode_table(spark, out).where("score = 7").count() == 200
    st = table_column_stats(out)["score"]
    assert st == {"min": 0, "max": 7, "nulls": 0, "rows": 300, "exact": True}


def test_time_travel_keeps_dropped_column_default(spark, tmp_path):
    """drop_column removes the default from the table meta; a read of a
    pre-drop snapshot still fills it (defaults are versioned per
    snapshot like the schema)."""
    from sparkcodec.engine import (
        decode_table,
        drop_column,
        snapshots,
        table_column_stats,
    )

    out = str(tmp_path / "t")
    _default_table(spark, out)
    pre = snapshots(out)[-1]["id"]
    drop_column(out, "score")
    old = decode_table(spark, out, snapshot_id=pre)
    assert old.where("score = 7").count() == 200
    assert old.where("score IS NULL").count() == 0
    assert table_column_stats(out, snapshot_id=pre)["score"]["nulls"] == 0
    assert "score" not in decode_table(spark, out).columns


def test_datasource_time_travel_across_drop_column(spark, tmp_path):
    """The DataSource reads a pre-drop snapshot with that snapshot's
    schema and defaults (it used to build both from the tip meta)."""
    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import drop_column, snapshots

    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "t")
    _default_table(spark, out)
    pre = snapshots(out)[-1]["id"]
    drop_column(out, "score")
    old = spark.read.format("sparkcodec").option("snapshot_id", pre).load(out)
    assert old.count() == 300
    assert old.where("score = 7").count() == 200
    assert "score" not in spark.read.format("sparkcodec").load(out).columns


def test_changefeed_fills_add_column_defaults(spark, tmp_path):
    """The changefeed delivers pre-add rows with the default, not NULL."""
    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import add_column, encode_table

    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "t")
    encode_table(
        spark, spark.range(200).select(F.col("id"), (F.col("id") % 3).alias("g")),
        out, cluster_by=["g"], salt_by=["id"], num_parts=2, resume=False,
    )
    add_column(out, "score", "i64", default=7)
    q = (
        spark.readStream.format("sparkcodec").load(out)
        .writeStream.format("memory").queryName("planner_cf_defaults")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT score, count(*) AS n FROM planner_cf_defaults "
                    "GROUP BY score").collect()
    assert {r["score"]: r["n"] for r in got} == {7: 200}


def test_planning_reads_the_snapshot_log_once(spark, tmp_path, monkeypatch):
    """One snapshot-log read per plan: a pruned decode_table and the
    batch DataSource's partitions() each call engine.snapshots once."""
    from sparkcodec import engine
    from sparkcodec.datasource import SparkcodecReader

    out = str(tmp_path / "t")
    build_ghost(spark, out)  # a remapped table: the most planning work
    schema = table_schema(out)
    calls = {"n": 0}
    orig = engine.snapshots

    def count(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(engine, "snapshots", count)
    dec = engine.decode_table(spark, out, where=("id", 0, 50))
    assert calls["n"] == 1
    calls["n"] = 0
    r = SparkcodecReader({"path": out}, schema)
    r.pushFilters(ds_filters([("le", "id", 50), ("isnull", "v", None)]))
    r.partitions()
    assert calls["n"] == 1
    monkeypatch.setattr(engine, "snapshots", orig)
    assert dec.where("id <= 50").count() == 51
