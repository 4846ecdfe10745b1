"""`spark.read.format("sparkcodec")` — a PySpark Python DataSource over
the encoded blocks table, with filter pushdown driving the zone maps.

The reader surface (Spark 4.1 Python DataSource API):

* ``schema()`` is the schema recorded at the resolved snapshot (the tip,
  or the ``snapshot_id`` / ``as_of`` / ``ref`` option).
* ``pushFilters`` accepts simple comparison filters on prunable columns
  and folds them into [lo, hi] bounds per column. Zone-map pruning is
  *conservative* (a kept part/block may still hold non-matching rows), so
  every filter is returned to Spark for post-scan re-evaluation — the
  pushdown only reduces I/O, never correctness obligations.
* ``partitions()`` hands the folded filters (one range and one IN-list
  per column, plus IS [NOT] NULL) to ``engine._plan_scan``, the one scan
  planner that also serves ``decode_table`` and the changefeed below,
  and maps the surviving parts onto a bounded number of input
  partitions.
* ``read()`` runs the plan's per-part reader (``engine._PartScan``):
  the same block-level pruning, field-id resolution and add_column
  defaults as ``decode_table``, yielding Arrow RecordBatches.

Reading via ``decode_table`` (mapInArrow) and via this data source are
equivalent; this surface exists so plain ``spark.read`` users get
predicate pushdown from Catalyst filters with no engine-specific API.
Writes go through ``engine.encode_table`` (clustering + skew fanout need
a job-level exchange a per-task writer cannot express).
"""

from __future__ import annotations

import json
import os

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)


def _load_meta(path: str) -> dict:
    from .engine import _j, _read_json

    return _read_json(_j(path, "_table_meta.json"))


def _resolve_sid_option(options, out_dir: str) -> int | None:
    """snapshot_id / as_of options -> a concrete snapshot id (None =
    tip). ``as_of`` accepts unix seconds or an ISO-8601 timestamp and
    resolves through engine.snapshot_id_as_of, same as decode_table."""
    sid = int(options["snapshot_id"]) if options.get("snapshot_id") else None
    as_of = options.get("as_of")
    ref = options.get("ref")
    for label, v in (("as_of", as_of), ("ref", ref)):
        if v == "":
            # an empty option silently reading the TIP would defeat the
            # reproducibility these options exist for — fail loudly
            raise ValueError(f"empty {label} option; pass a value or omit it")
    if sum(1 for x in (sid, as_of, ref) if x is not None) > 1:
        raise ValueError("pass at most one of snapshot_id / as_of / ref, not both")
    if as_of:
        from .engine import snapshot_id_as_of

        sid = snapshot_id_as_of(out_dir, as_of)  # ISO-first string coercion
    if ref:
        from .engine import resolve_ref

        sid = resolve_ref(out_dir, ref)
    return sid


def _default_tasks() -> int:
    """Scan parallelism when no ``tasks`` option is given: 4 tasks per
    core of the ACTIVE session (planning runs driver-side, so the session
    is normally reachable); ``os.cpu_count`` only as the last resort —
    a driver-core count is a poor proxy for cluster parallelism."""
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            return 4 * s.sparkContext.defaultParallelism
    except Exception:
        pass
    return 4 * (os.cpu_count() or 8)


def _input_partitions(plan, n_tasks: int | None = None) -> list:
    """A scan plan's entries over a bounded number of input partitions.
    Each partition value carries the per-part reader (``plan.scan``)
    with its entries: the reader object is serialized BEFORE
    partitions() runs, so nothing planned here could reach the
    executors through ``self``."""
    entries = plan.entries()
    if not entries:
        return [InputPartition((plan.scan, []))]
    n = n_tasks or min(len(entries), _default_tasks())
    size = -(-len(entries) // n)
    return [
        InputPartition((plan.scan, entries[i : i + size]))
        for i in range(0, len(entries), size)
    ]


class SparkcodecReader(DataSourceReader):
    def __init__(self, options, schema):
        self.out_dir = options.get("path")
        if not self.out_dir:
            raise ValueError("sparkcodec reader requires .load(<blocks dir>)")
        self.snapshot_id = _resolve_sid_option(options, self.out_dir)
        self.n_tasks = int(options.get("tasks", 0)) or None
        self.columns = [f.name for f in schema.fields]
        self.bounds: dict[str, list] = {}  # col -> [lo, hi] (None = open)
        self.nulls: dict[str, set] = {}  # col -> {"isnull" | "notnull"}
        self.eqs: dict[str, list] = {}  # col -> probe values (=, IN)

    def pushFilters(self, filters):
        # folded into one range and one IN-list per column; the planner
        # decides what prunes (engine._plan_scan drops predicates on
        # add_column-defaulted columns, for one)
        for f in filters:
            col = ".".join(f.attribute) if hasattr(f, "attribute") else None
            if col is None:
                continue
            val = getattr(f, "value", None)
            if isinstance(f, IsNotNull):
                self.nulls.setdefault(col, set()).add("notnull")
            elif isinstance(f, IsNull):
                self.nulls.setdefault(col, set()).add("isnull")
            elif isinstance(f, In):
                vs = [v for v in val or () if v is not None]
                if vs and all(isinstance(v, type(vs[0])) for v in vs):
                    self._narrow(col, min(vs), max(vs))
                    self.eqs.setdefault(col, []).extend(vs)
            elif val is None:
                pass
            elif isinstance(f, EqualTo):
                self._narrow(col, val, val)
                self.eqs.setdefault(col, []).append(val)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                self._narrow(col, val, None)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                self._narrow(col, None, val)
            elif isinstance(f, StringStartsWith) and isinstance(val, str) and val:
                # every string with this prefix sorts in
                # [prefix, prefix-with-last-char-incremented)
                hi = None
                if ord(val[-1]) < 0x10FFFF:
                    hi = val[:-1] + chr(ord(val[-1]) + 1)
                self._narrow(col, val, hi)
        # zone maps are conservative: Spark must re-evaluate every filter
        return filters

    def _narrow(self, col, lo, hi):
        cur = self.bounds.setdefault(col, [None, None])
        if lo is not None and (cur[0] is None or lo > cur[0]):
            cur[0] = lo
        if hi is not None and (cur[1] is None or hi < cur[1]):
            cur[1] = hi

    def partitions(self):
        from .engine import _plan_scan

        wheres = [(c, lo, hi) for c, (lo, hi) in self.bounds.items()]
        wheres += [(c, tuple(vs)) for c, vs in self.eqs.items()]
        plan = _plan_scan(
            self.out_dir, self.snapshot_id, self.columns, wheres, None, self.nulls
        )
        return _input_partitions(plan, self.n_tasks)

    def read(self, partition):
        scan, entries = partition.value
        for e in entries:
            yield from scan.batches(e)


class SparkcodecStreamReader(DataSourceStreamReader):
    """Snapshot changefeed: each micro-batch delivers exactly the parts
    committed by snapshots in (start, end] — the streaming twin of
    ``encode_stream``'s one-snapshot-per-batch ingestion. Offsets are
    snapshot ids, so Spark's streaming checkpoint gives replayable,
    never-torn batches (a snapshot commits atomically after every part
    of its run is durable)."""

    def __init__(self, options, schema):
        self.out_dir = options.get("path")
        if not self.out_dir:
            raise ValueError("sparkcodec stream reader requires .load(<blocks dir>)")
        self.columns = [f.name for f in schema.fields]
        # predicate pushdown for changefeed consumers: the streaming API
        # has no pushFilters hook, so predicates ride an option as JSON —
        # .option("where", '[["doc_id",100,200],["lang",["de","fr"]]]')
        # (a CONJUNCTION in decode_table's where forms). Pruning is
        # conservative (zone maps), so compose with .filter for exactness.
        self.wheres = None
        self.wheres_any = None
        w = options.get("where")
        if w:
            self.wheres = self._parse_where(w)
        wa = options.get("where_any")
        if wa:
            # DNF disjunction, same semantics as decode_table(where_any=):
            # JSON list of DISJUNCTS, each a predicate or conjunction —
            # '[[["lang",["de"]]], [["doc_id",0,99]]]' = lang IN ('de')
            # OR doc_id BETWEEN 0 AND 99. An empty disjunct normalizes
            # to [] (always-true: prunes nothing), never None.
            self.wheres_any = [
                self._parse_where(d) or [] for d in json.loads(wa)
            ]

    @staticmethod
    def _parse_where(spec):
        """JSON -> normalized conjunction through the engine's validator,
        so a scalar where a value LIST is required raises here instead of
        silently pruning wrong (["lang","de"] must not become the chars
        'd','e'). Accepts a pre-parsed list (where_any disjuncts) or a
        JSON string."""
        from .engine import _normalize_where

        if isinstance(spec, str):
            spec = json.loads(spec)
        if spec and isinstance(spec[0], str):
            spec = [spec]  # single bare predicate -> conjunction of one
        return _normalize_where([tuple(p) for p in spec]) or None

    def initialOffset(self):
        return {"snapshot": 0}

    def latestOffset(self):
        from .engine import snapshots

        snaps = snapshots(self.out_dir)
        return {"snapshot": snaps[-1]["id"] if snaps else 0}

    def partitions(self, start, end):
        from .engine import _plan_scan, snapshots

        lo, hi = start["snapshot"], end["snapshot"]
        snaps = snapshots(self.out_dir)
        parts = [
            int(p)
            for s in snaps
            # compaction/delete/rollback snapshots rearrange existing rows
            # — replaying their parts would duplicate data already
            # delivered (the changefeed is append-only). Merge entries
            # record which parts carry genuinely new rows under
            # append_parts: deliver those, skip the rewrites.
            if lo < s["id"] <= hi
            and not s.get("compaction")
            and not s.get("delete")
            and not s.get("rollback_of")
            # materialized tagged roots overlap the retained root's rows
            and not s.get("tag_only")
            # branch commits are off-main; their net new rows arrive
            # once, via the fast-forward entry's append_parts
            and not s.get("branch")
            for p in (
                s["append_parts"] if s.get("append_parts") is not None
                else s["new_parts"]
            )
        ]
        plan = _plan_scan(
            self.out_dir, None, self.columns, self.wheres, self.wheres_any,
            parts=parts, snaps=snaps,
        )
        return _input_partitions(plan)

    read = SparkcodecReader.read

    def commit(self, end):
        pass  # snapshot log is append-only; nothing to clean up


class SparkcodecCDCStreamReader(DataSourceStreamReader):
    """Changefeed in CDC mode (``.option("cdc", "true").option("key",
    <col>)``): instead of replaying appended ROWS, each micro-batch
    delivers change EVENTS ``(key, _op, _snapshot_id, _n)`` for the
    snapshots in (start, end] — including the delete events the
    append-only feed cannot express (takedown / right-to-erasure
    propagation). Deletes are the exact per-key multiset diff of a
    snapshot's removed parts against its rewrite survivors
    (engine._cdc_plan, same semantics as the batch
    ``engine.table_changes``); a merged key shows as delete(preimage) +
    insert(new row). Each task diffs ONE snapshot's changed parts,
    decoding only the key column — memory is bounded by that snapshot's
    distinct changed keys; for bulk historical diffs use the batch API,
    which aggregates via a full shuffle instead."""

    def __init__(self, options, schema):
        self.out_dir = options.get("path")
        if not self.out_dir:
            raise ValueError("sparkcodec stream reader requires .load(<blocks dir>)")
        self.key_col = options.get("key")
        if not self.key_col:
            raise ValueError('cdc mode requires .option("key", "<column>")')

    def initialOffset(self):
        return {"snapshot": 0}

    def latestOffset(self):
        from .engine import snapshots

        snaps = snapshots(self.out_dir)
        return {"snapshot": snaps[-1]["id"] if snaps else 0}

    def partitions(self, start, end):
        from .engine import _cdc_plan, _plan_scan, snapshots

        snaps = snapshots(self.out_dir)
        changes = _cdc_plan(snaps, start["snapshot"], end["snapshot"])
        # the key column's field-id resolution rides each change row
        plan = _plan_scan(
            self.out_dir, None, [self.key_col],
            parts=sorted({c[1] for c in changes}), snaps=snaps,
        )
        entry_of = {e[0]: e for e in plan.entries()}
        by_sid: dict[int, list] = {}
        for sid, pid, w, ch in changes:
            by_sid.setdefault(sid, []).append((sid, w, ch, entry_of[pid]))
        if not by_sid:
            return [InputPartition((plan.scan, []))]
        return [
            InputPartition((plan.scan, rows)) for _sid, rows in sorted(by_sid.items())
        ]

    def read(self, partition):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from .engine import _part_key_counts

        scan, rows = partition.value
        if not rows:
            return
        key_arrow = scan.arrow_schema.field(0).type
        out_schema = pa.schema([
            (self.key_col, key_arrow), ("_op", pa.string()),
            ("_snapshot_id", pa.int64()), ("_n", pa.int64()),
        ])
        sid = rows[0][0]
        # per-part vectorized value_counts, then one Arrow group-by sum
        # per channel — no per-row Python anywhere on the key path
        per_ch: dict[str, list] = {"insert": [], "delete": []}
        for _sid, w, ch, entry in rows:
            res = _part_key_counts(scan, entry)
            if res is None:
                continue
            values, counts = res
            per_ch[ch].append(pa.table({
                "k": values,
                "n": pc.multiply(counts, pa.scalar(w, pa.int64())),
            }))
        for ch, op in (("insert", "insert"), ("delete", "delete")):
            if not per_ch[ch]:
                continue
            agg = (
                pa.concat_tables(per_ch[ch])
                .group_by("k")
                .aggregate([("n", "sum")])
            )
            keys, n = agg.column("k"), agg.column("n_sum")
            if ch == "delete":
                # multiset diff: only keys with net-positive removal count
                mask = pc.greater(n, 0)
                keys, n = keys.filter(mask), n.filter(mask)
            m = len(keys)
            if m == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    keys.combine_chunks(),
                    pc.fill_null(pa.nulls(m, pa.string()), op),
                    pa.array(np.full(m, sid, dtype=np.int64)),
                    n.combine_chunks(),
                ],
                schema=out_schema,
            )

    def commit(self, end):
        pass  # snapshot log is append-only; nothing to clean up


@dataclass
class _PartCommit(WriterCommitMessage):
    part_id: int
    n_rows: int
    raw_bytes: int
    enc_bytes: int
    lineage: str = ""  # the part's checkpoint lineage (manifest input)


class SparkcodecWriter(DataSourceArrowWriter):
    """``df.write.format("sparkcodec").mode("append")`` — the plain-Spark
    write path for *pre-grouped* data: each task encodes its input
    partition as one part (the engine's aligned layout, no exchange),
    and the driver commits one snapshot only after every task's parts
    are durable. Clustering/salting/skew-fanout need a job-level
    exchange a per-task writer cannot express — use
    ``engine.encode_table`` for those.

    The writer holds the table's single-writer lease from planning
    (driver-side ``__init__``) through ``commit()``/``abort()``. Part
    ids come from the engine's shared allocator
    (``engine._next_part_base``), so an optimistic writer's reserved
    range and a crashed append's planned range are never written into.
    The commit publishes through ``engine._commit_snapshot_entry`` like
    every engine write: the tasks ship each part's lineage back in
    their commit messages, so the manifest folds it without re-reading
    a checkpoint, and manifest consolidation applies."""

    def __init__(self, options, schema, overwrite):
        if overwrite:
            raise ValueError(
                "sparkcodec supports mode('append'); for a fresh table use "
                "encode_table(resume=False) or a new path"
            )
        self.out_dir = options.get("path")
        if not self.out_dir:
            raise ValueError("sparkcodec writer requires .save(<blocks dir>)")
        self.block_rows = int(options.get("block_rows", 65536))
        self.block_bytes = int(options.get("block_bytes", 32 << 20))
        from pyspark.sql.pandas.types import to_arrow_schema

        from .codecs import type_name
        from .engine import _acquire_writer_lock, _exists, _j, _next_part_base

        arrow = to_arrow_schema(schema)
        self.columns = [f.name for f in arrow]
        self.type_names = {f.name: type_name(f.type) for f in arrow}
        # field-id identity: tasks stamp each part's {col: id} into its
        # checkpoint lineage, so the mapping must be resolved up front —
        # inherited from the table for existing columns, and (for an
        # evolving write) pre-merged through the same engine helper
        # commit() will apply, which is pure and deterministic
        self.field_ids = {c: i + 1 for i, c in enumerate(self.columns)}
        if _exists(_j(self.out_dir, "_table_meta.json")):
            prev = _load_meta(self.out_dir)
            if prev["schema"] != self.type_names:
                # add-column evolution, same rule as encode_table (shared
                # engine helper); commit() merges the meta
                from .engine import check_schema_evolution, merge_evolved_meta

                check_schema_evolution(prev, self.type_names, self.columns)
                self.field_ids = merge_evolved_meta(
                    prev, self.type_names, self.columns
                )["field_ids"]
            else:
                from .engine import _field_ids_of

                self.field_ids = _field_ids_of(prev)[0]
        self._lock_owner = _acquire_writer_lock(self.out_dir, "ds-write")
        self.base = _next_part_base(self.out_dir)

    def write(self, iterator):
        from pyspark import TaskContext

        from .engine import _encode_one_part

        batches = [b for b in iterator if b.num_rows]
        pid = self.base + TaskContext.get().partitionId()
        if not batches:
            return _PartCommit(-1, 0, 0, 0)
        r = _encode_one_part(
            pid, batches, self.columns, self.out_dir,
            self.block_rows, self.block_bytes, set(), {},
            field_ids=self.field_ids,
        )
        return _PartCommit(pid, r["n_rows"], r["raw_bytes"], r["enc_bytes"],
                           r["lineage"])

    def commit(self, messages):
        import time

        from .engine import (
            _commit_snapshot_entry,
            _entry_schema,
            _exists,
            _j,
            _prune_meta_of,
            _release_writer_lock,
            legacy_root_parts,
            merge_evolved_meta,
            snapshots,
        )

        try:
            done = [m for m in messages if m and m.part_id >= 0]
            parts = sorted(m.part_id for m in done)
            evolved = None
            if _exists(_j(self.out_dir, "_table_meta.json")):
                meta = _load_meta(self.out_dir)
                if meta["schema"] != self.type_names:
                    # add-column evolution validated in __init__: the
                    # merged meta (readers see the union; old parts decode
                    # the new columns as nulls) publishes with the entry
                    meta = evolved = merge_evolved_meta(
                        meta, self.type_names, self.columns
                    )
            else:
                meta = evolved = {
                    "schema": self.type_names,
                    "columns": self.columns,
                    "num_parts": -1,
                    "layout": "aligned",
                    "cluster_by": None,
                    "salt_by": None,
                    "sort_by": [],
                    "block_rows": self.block_rows,
                    "target_part_rows": None,
                    "field_metadata": {},
                    "field_ids": self.field_ids,
                    "next_field_id": max(self.field_ids.values(), default=0) + 1,
                    "engine_version": "0.1.0",
                }
            if not snapshots(self.out_dir):
                # pre-snapshot table (parts exist but no log): this entry
                # becomes the root snapshot (shared engine rule)
                parts = legacy_root_parts(self.out_dir, parts, self.base)
            entry = {
                "new_parts": parts,
                "n_rows": sum(m.n_rows for m in done),
                "enc_bytes": sum(m.enc_bytes for m in done),
                "layout": "aligned",
                # schema versioned per snapshot (time travel reads the
                # schema in effect at commit time, engine.snapshot_schema)
                **_entry_schema(meta),
                "field_ids": self.field_ids,
                "ts": time.time(),
            }
            # the parent is the MAIN tip (a trailing branch commit is a
            # bystander to this sink)
            _commit_snapshot_entry(
                self.out_dir, entry, append=True, evolved_meta=evolved,
                pm={m.part_id: _prune_meta_of(m.lineage, m.n_rows) for m in done},
            )
        finally:
            _release_writer_lock(self.out_dir, self._lock_owner)

    def abort(self, messages):
        # written parts are invisible without a snapshot commit (readers
        # resolve the snapshot log); leave them for a later resume/retry
        from .engine import _release_writer_lock

        _release_writer_lock(self.out_dir, self._lock_owner)


class SparkcodecDataSource(DataSource):
    """Register once per session:
    ``spark.dataSource.register(SparkcodecDataSource)`` then
    ``spark.read.format("sparkcodec").load(out_dir)`` for batch,
    ``spark.readStream.format("sparkcodec").load(out_dir)`` to tail
    committed snapshots, or ``df.write.format("sparkcodec")
    .mode("append").save(out_dir)`` for exchange-free appends.
    Reading requires ``spark.sql.python.filterPushdown.enabled=true``
    (on by default in ``sparkcodec.session.get_spark``) because the
    reader implements filter pushdown.

    Column pruning: the Python DataSource API pushes filters but not
    projections, so a bare ``.load(dir).select("lang")`` still decodes
    every column. Pass ``.option("columns", "lang,doc_id")`` to restrict
    the scan — only the named columns' block files are opened (file-level
    pruning, same as ``decode_table(columns=...)``). The option applies
    to BOTH the batch reader and the streaming changefeed (the restricted
    schema flows into the stream reader's decode).

    Time travel: ``.option("snapshot_id", 3)`` by id, or
    ``.option("as_of", "2026-08-17T12:00:00")`` (ISO-8601 or unix
    seconds) for the latest snapshot committed at or before that time.

    Changefeed predicates: the streaming API has no pushFilters hook,
    so ``spark.readStream`` accepts ``.option("where",
    '[["doc_id",100,200],["lang",["de"]]]')`` — a JSON conjunction in
    ``decode_table``'s where forms — and ``.option("where_any",
    '[[["lang",["de"]]],[["doc_id",0,99]]]')``, a DNF disjunction of
    such conjunctions (matching ``decode_table(where_any=...)``: each
    disjunct prunes independently, survivors union, and the result
    intersects ``where``). Parts and blocks outside every predicate are
    never decoded (zone maps + value sets + blooms); pruning is
    conservative, so compose with ``.filter`` for exactness.

    CDC: ``spark.readStream ... .option("cdc", "true").option("key",
    "doc_id")`` switches the changefeed from replaying appended rows to
    delivering change EVENTS ``(key, _op, _snapshot_id, _n)`` including
    DELETE events (see :class:`SparkcodecCDCStreamReader`); the batch
    twin is ``engine.table_changes``.
    """

    @classmethod
    def name(cls):
        return "sparkcodec"

    def schema(self):
        from .engine import _SPARK_TYPE_OF, _resolve_snapshot_meta

        if (self.options.get("cdc") or "").lower() == "true":
            # CDC change-event schema: key + op/snapshot/count metadata
            key = self.options.get("key")
            if not key:
                raise ValueError('cdc mode requires .option("key", "<column>")')
            meta = _load_meta(self.options.get("path"))
            if key not in meta["schema"]:
                raise ValueError(
                    f"cdc key {key!r} not in table columns {meta['columns']}"
                )
            return (
                f"`{key}` {_SPARK_TYPE_OF[meta['schema'][key]]}, "
                f"`_op` string, `_snapshot_id` long, `_n` long"
            )
        # Spark may call schema() repeatedly while planning one read:
        # compute the snapshot-schema overlay (one log read) once per
        # DataSource instance
        cached = getattr(self, "_schema_cache", None)
        if cached is not None:
            meta, cols = cached
        else:
            path = self.options.get("path")
            meta = _load_meta(path)
            # schema as recorded at the resolved snapshot (explicit
            # snapshot_id option, else the tip): matches decode_table — a
            # rollback across an add-column evolution narrows the DS read
            # schema back too
            sid = _resolve_sid_option(self.options, path)
            meta, _sid, _snaps = _resolve_snapshot_meta(path, meta, sid)
            cols = meta["columns"]
            self._schema_cache = (meta, cols)
        sel = self.options.get("columns")
        if sel:
            want = [c.strip() for c in sel.split(",") if c.strip()]
            unknown = sorted(set(want) - set(cols))
            if unknown:
                raise ValueError(
                    f"columns option names unknown columns {unknown}; "
                    f"table has {cols}"
                )
            cols = [c for c in cols if c in want]  # keep table order
        return ", ".join(f"`{c}` {_SPARK_TYPE_OF[meta['schema'][c]]}" for c in cols)

    def reader(self, schema):
        return SparkcodecReader(self.options, schema)

    def streamReader(self, schema):
        if (self.options.get("cdc") or "").lower() == "true":
            return SparkcodecCDCStreamReader(self.options, schema)
        return SparkcodecStreamReader(self.options, schema)

    def writer(self, schema, overwrite):
        return SparkcodecWriter(self.options, schema, overwrite)
