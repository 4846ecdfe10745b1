"""The four benchmark workloads.

Each workload is a closed loop with one client: the next operation starts
when the previous one has returned. A workload makes its inputs from the
seed before the session starts, then sets up with Spark (pre-encode),
then runs ``step``, one operation of the loop: ``warm_ops`` times as
warm-up, then until the time is up. Untimed correctness checks and the figures it
reports close the run. Every operation and every check counts
as attempted; an exception or a wrong result counts as failed.
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

import inputs

# input sizes per profile; "tiny" is for the smoke test
SIZES = {
    # roundtrip: 12k rows in 3k-row parts, so the clustered encode runs
    # as 4 tasks, one per core of a 4-vCPU host
    "full": dict(
        rows=12_000, rt_part_rows=3_000, files=8, part_rows=1_500, lookup_keys=400,
        churn_rows=5_000, churn_base=2_000, churn_batch=100, churn_batches=30,
        compact_every=4, ops_scale=0.1, min_ops=2,
    ),
    "tiny": dict(
        rows=2_000, rt_part_rows=2_000, files=2, part_rows=500, lookup_keys=20,
        churn_rows=600, churn_base=200, churn_batch=40, churn_batches=8,
        compact_every=3, ops_scale=0.02, min_ops=1,
    ),
}

CODE_COLUMNS = ["repo", "path", "commit", "lang", "content"]
OPERATOR_QUERIES = [
    "profile_documents",
    "run_length_lineitem",
    "csr_offsets",
    "synapse_ids",
    "exact_dedup",
    "token_stats",
    "ann_cosine_topk",
]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def write_corpus(run, n_rows: int, name: str) -> str:
    """A ``code_files`` corpus from the seed, with unique (repo, path) keys,
    written as ``files`` parquet files (the layout ``write_code_files``
    gives)."""
    from sparkcodec import tables

    t0 = time.perf_counter()
    t = tables.code_files_arrow(n_rows, seed=inputs.corpus_seed(run.seed))
    run.layer["tables.generate_s"] += time.perf_counter() - t0
    # the generator can repeat a path within a repo; keep the first row so
    # that a key lookup has exactly one right answer
    seen, keep = set(), []
    for i, k in enumerate(zip(t.column("repo").to_pylist(), t.column("path").to_pylist())):
        if k not in seen:
            seen.add(k)
            keep.append(i)
    if len(keep) < t.num_rows:
        t = t.take(keep)
    out = run.path(name)
    os.makedirs(out, exist_ok=True)
    n_files = run.cfg["files"]
    step = -(-t.num_rows // n_files)
    for i in range(n_files):
        sl = t.slice(i * step, step)
        if sl.num_rows:
            pq.write_table(sl, os.path.join(out, f"part-{i:04d}.parquet"), compression="snappy")
    run.input_files += inputs.files_under(out)
    return out


def encode(run, df, out: str, kind: str, **kw) -> dict:
    """``encode_table``, with its phase walls kept under ``kind``."""
    from sparkcodec import engine

    res = engine.encode_table(run.spark, df, out, resume=False, **kw)
    run.phases[kind].append(res.get("phase_sec") or {})
    return res


def decode_df(run, out: str, **kw):
    """``decode_table`` call, timed up to the returned DataFrame (plan)."""
    from sparkcodec import engine

    t0 = time.perf_counter()
    df = engine.decode_table(run.spark, out, **kw)
    run.samples["decode_plan"].append(time.perf_counter() - t0)
    return df


def key_filter(df, key):
    from pyspark.sql import functions as F

    return df.filter((F.col("repo") == key[0]) & (F.col("path") == key[1]))


def engine_lookup(run, out: str, key) -> int:
    df = decode_df(run, out, where=[("repo", [key[0]]), ("path", [key[1]])])
    with run.tracer.span("spark.action"):
        return key_filter(df, key).count()


def sql_lookup(run, out: str, key) -> int:
    t0 = time.perf_counter()
    with run.tracer.span("datasource.load"):
        df = run.spark.read.format("sparkcodec").load(out)
    run.samples["load"].append(time.perf_counter() - t0)
    with run.tracer.span("spark.action"):
        return key_filter(df, key).count()


def part_wall_stats(run, out: str) -> None:
    """Per-part kernel walls from the table's own ``_log.jsonl``."""
    with open(os.path.join(out, "_log.jsonl")) as f:
        walls = [json.loads(line)["wall_ms"] for line in f if line.strip()]
    run.layer["engine.encode.part_ms_p50"] = median(walls)
    run.layer["engine.encode.part_ms_max"] = max(walls, default=0.0)


def log_stats(run, out: str) -> None:
    from sparkcodec import engine

    run.layer["engine.log.snapshots"] = len(engine.snapshots(out))
    run.layer["engine.log.bytes"] = dir_bytes(out) - dir_bytes(os.path.join(out, "blocks"))


def prune_ratios(run, out: str, keys, expected) -> None:
    """Surviving parts / live parts through the public pruning functions,
    and matching rows / rows the pruned ``decode_table`` emitted."""
    from sparkcodec import engine

    live = engine.snapshot_parts(out)
    pm = engine.part_meta(out, live)
    stats = {p: m.get("stats") or {} for p, m in pm.items()}
    vsets = {p: m.get("vset") or {} for p, m in pm.items()}
    blooms = {p: m.get("bloom") or {} for p, m in pm.items()}
    kept = emitted = matching = 0
    for key in keys:
        parts = engine.prune_parts(out, ("path", key[1], key[1]), live, stats)
        parts = engine.prune_parts_eq(out, "repo", [key[0]], parts, vsets)
        parts = engine.prune_parts_bloom(out, "path", [key[1]], parts, blooms)
        kept += len(parts)
        emitted += engine.decode_table(run.spark, out, where=[("repo", [key[0]]), ("path", [key[1]])]).count()
        matching += expected[key]
    run.layer["engine.prune.parts_kept_ratio"] = kept / max(1, len(live) * len(keys))
    run.layer["engine.prune.rows_useful_ratio"] = matching / max(1, emitted)


def table_ratios(run, out: str) -> None:
    """``codecs.ratio.<col>`` over every block of a table (``blocks_stats``),
    in place of the probe's one-part figure."""
    from sparkcodec import engine

    acc = collections.defaultdict(lambda: [0, 0])
    for r in engine.blocks_stats(run.spark, out).collect():
        acc[r["col"]][0] += r["raw_bytes"]
        acc[r["col"]][1] += r["enc_bytes"]
    for col, (raw, enc) in acc.items():
        run.layer[f"codecs.ratio.{col}"] = raw / max(1, enc)


def codec_probe(run, corpus: str) -> None:
    """The select and codecs layers in process, single thread, on one
    part's worth of rows with the spec ``choose_codec`` picks."""
    from sparkcodec.codecs import decode_array, encode_array
    from sparkcodec.select import choose_codec

    t = pq.read_table(corpus).slice(0, run.cfg["part_rows"])
    for col in CODE_COLUMNS:
        arr = t.column(col).combine_chunks()
        with run.tracer.span("select.choose_codec"):
            t0 = time.perf_counter()
            spec, table = choose_codec(arr)
            t1 = time.perf_counter()
        with run.tracer.span("codecs.encode_array"):
            payload, meta = encode_array(arr, spec, fsst_table=table)
            t2 = time.perf_counter()
        meta = json.loads(json.dumps(meta))  # as stored in the blocks table
        with run.tracer.span("codecs.decode_array"):
            t3 = time.perf_counter()
            back = decode_array(payload, meta)
            t4 = time.perf_counter()
        run.check(f"codec probe {col} ({spec})", back.equals(arr))
        run.layer[f"select.choose_ms.{col}"] = (t1 - t0) * 1e3
        run.layer[f"codecs.encode_mbps.{col}"] = arr.nbytes / 1e6 / max(t2 - t1, 1e-9)
        run.layer[f"codecs.decode_mbps.{col}"] = arr.nbytes / 1e6 / max(t4 - t3, 1e-9)
        run.layer[f"codecs.ratio.{col}"] = arr.nbytes / max(1, len(payload))


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()
    warm_ops = 1

    def make_inputs(self, run) -> None:
        """Generate the inputs from the seed; runs without Spark."""
        raise NotImplementedError

    def setup(self, run) -> None:
        pass

    def step(self, run, i: int) -> bool:
        """One operation; returns False when the inputs are used up."""
        raise NotImplementedError

    def cycle(self, run) -> int:
        """Operations per cycle; a traced run pauses tracing every other
        cycle."""
        return 1

    def checks(self, run) -> None:
        pass

    def figures(self, run) -> dict:
        return {}

    def layers(self, run) -> None:
        pass


class Roundtrip(Workload):
    """Encode clustered, encode aligned, decode the clustered table in full
    and checksum it, then build the two-level CSR index over the decoded
    table: one operation is all four, back to back."""

    name = "roundtrip"
    kinds = ("encode", "encode_aligned", "decode", "index")
    # after one warm-up operation the next one or two still ran 10-35%
    # slower, and a run holds only 4-6 operations
    warm_ops = 2
    # the index: runs of repo over the (commit, path) row order, as the
    # reference converter indexes edges by source over a target order;
    # a commit belongs to one repo, so this gives ~1k runs per 12k rows
    index_args = ("repo", ["commit", "path"])

    def make_inputs(self, run):
        self.corpus = write_corpus(run, run.cfg["rows"], "corpus")
        self.raw_bytes = pq.read_table(self.corpus).nbytes
        self.want_index = inputs.csr_index(self.corpus, *self.index_args)

    def setup(self, run):
        from sparkcodec import verify

        run.group("setup")
        self.df = run.spark.read.parquet(self.corpus)
        self.want = verify._row_checksum(self.df)
        self.out_c, self.out_a = run.path("clustered"), run.path("aligned")

    def step(self, run, i):
        from sparkcodec import verify

        for d in (self.out_c, self.out_a):
            shutil.rmtree(d, ignore_errors=True)
        part_rows = run.cfg["rt_part_rows"]
        run.timed("encode", lambda: encode(run, self.df, self.out_c, "encode", target_part_rows=part_rows))
        run.timed("encode_aligned", lambda: encode(run, self.df, self.out_a, "encode_aligned", layout="aligned"))

        def decode():
            df = decode_df(run, self.out_c)
            with run.tracer.span("spark.action"):
                return verify._row_checksum(df)

        got = run.timed("decode", decode)
        run.check("decode checksum", got == self.want, f"{got} != {self.want}")

        def build_index():
            from sparkcodec import index

            offsets, ranges = index.build_index(decode_df(run, self.out_c), *self.index_args)
            with run.tracer.span("spark.action"):
                return sorted(map(tuple, ranges.collect())), sorted(map(tuple, offsets.collect()))

        got = run.timed("index", build_index)
        run.check("index ranges and offsets", got == self.want_index,
                  f"{len(got[0])} ranges, {len(got[1])} nodes; want "
                  f"{len(self.want_index[0])}, {len(self.want_index[1])}")
        return True

    def checks(self, run):
        from sparkcodec import engine, verify

        with run.tracer.span("verify.checksum"):
            t0 = time.perf_counter()
            got = verify._row_checksum(engine.decode_table(run.spark, self.out_a))
            run.layer["verify.checksum_s"] = time.perf_counter() - t0
        run.check("aligned decode checksum", got == self.want, f"{got} != {self.want}")
        t0 = time.perf_counter()
        rep = verify.verify_roundtrip(self.df, engine.decode_table(run.spark, self.out_c), ["repo", "path"])
        run.layer["verify.roundtrip_s"] = time.perf_counter() - t0
        run.check("verify_roundtrip", rep["ok"], json.dumps(rep, default=str)[:300])
        gate = verify.size_gate(run.spark, self.df, self.out_c, run.path("zstd_baseline"))
        run.layer["verify.size_gate_ratio"] = gate["blocks_disk_bytes"] / max(1, gate["parquet_zstd_bytes"])
        run.check("size_gate", gate["disk_le_zstd"], f"{gate['blocks_disk_bytes']} > {gate['parquet_zstd_bytes']}")

    def figures(self, run):
        mb = self.raw_bytes / 1e6
        s = run.samples
        return {
            "raw_mb": mb,
            "encode_mbps": mb / median(s["encode"], float("nan")),
            "encode_aligned_mbps": mb / median(s["encode_aligned"], float("nan")),
            "decode_mbps": mb / median(s["decode"], float("nan")),
            "compression_ratio": self.raw_bytes / max(1, dir_bytes(self.out_c)),
        }

    def layers(self, run):
        part_wall_stats(run, self.out_c)
        log_stats(run, self.out_c)
        run.layer["engine.decode.job_s"] = median(run.samples["decode"]) - median(run.samples["decode_plan"])
        codec_probe(run, self.corpus)
        table_ratios(run, self.out_c)


class Lookup(Workload):
    """Point lookups on (repo, path) through both read surfaces of a table
    encoded once in set-up."""

    name = "lookup"
    kinds = ("lookup", "sql_lookup")

    def make_inputs(self, run):
        self.corpus = write_corpus(run, run.cfg["rows"], "corpus")
        keys = inputs.read_keys(self.corpus)
        self.expected = inputs.key_counts(keys)
        self.keys = inputs.draw_lookup_keys(keys, run.cfg["lookup_keys"], run.seed)

    def setup(self, run):
        from sparkcodec.datasource import SparkcodecDataSource

        run.spark.dataSource.register(SparkcodecDataSource)
        self.out = run.path("table")
        run.group("setup")
        # the frozen suite's part settings: many small parts
        encode(run, run.spark.read.parquet(self.corpus), self.out, "encode",
               num_parts=4096, target_part_rows=run.cfg["part_rows"])

    def step(self, run, i):
        key = self.keys[i % len(self.keys)]
        want = self.expected[key]
        n = run.timed("lookup", lambda: engine_lookup(run, self.out, key))
        run.check("lookup rows", n == want, f"{key}: {n} != {want}")
        n = run.timed("sql_lookup", lambda: sql_lookup(run, self.out, key))
        run.check("sql lookup rows", n == want, f"{key}: {n} != {want}")
        return True

    def layers(self, run):
        part_wall_stats(run, self.out)
        log_stats(run, self.out)
        run.layer["engine.decode.job_s"] = median(run.samples["lookup"]) - median(run.samples["decode_plan"])
        prune_ratios(run, self.out, self.keys[:20], self.expected)
        codec_probe(run, self.corpus)
        table_ratios(run, self.out)


class Churn(Workload):
    """Small appends to one table, each followed by a lookup of a key
    appended earlier through both read surfaces; the table is compacted
    every ``compact_every`` appends."""

    name = "churn"
    kinds = ("append", "lookup", "sql_lookup", "compact")

    def cycle(self, run):
        return run.cfg["compact_every"]

    def make_inputs(self, run):
        cfg = run.cfg
        self.corpus = write_corpus(run, cfg["churn_rows"], "corpus")
        self.base, self.batches = inputs.split_churn(
            self.corpus, run.path("batches"), cfg["churn_base"], cfg["churn_batch"],
            cfg["churn_batches"], run.seed,
        )
        self.batch_keys = [inputs.key_counts(inputs.read_keys(p)) for p in self.batches]
        self.expected = inputs.key_counts(inputs.read_keys(self.base))
        self.rng = inputs.rng_for(run.seed, inputs.CHURN_PICKS)
        self.out = run.path("table")
        self.appended: list[str] = []
        self.looked_up: list[tuple[str, str]] = []
        self.user_bytes = 0
        self.compactions: list[dict] = []

    def setup(self, run):
        from sparkcodec.datasource import SparkcodecDataSource

        run.spark.dataSource.register(SparkcodecDataSource)
        run.group("setup")
        encode(run, run.spark.read.parquet(self.base), self.out, "encode")
        self.base_disk = dir_bytes(self.out)

    def step(self, run, i):
        n_done = len(self.appended)
        if n_done == len(self.batches):
            return False
        batch = self.batches[n_done]
        df = run.spark.read.parquet(batch)
        run.timed("append", lambda: encode(run, df, self.out, "encode", append=True))
        self.appended.append(batch)
        self.expected.update(self.batch_keys[n_done])
        self.user_bytes += pq.read_table(batch).nbytes
        pick = self.batch_keys[int(self.rng.integers(0, n_done + 1))]
        key = sorted(pick)[int(self.rng.integers(0, len(pick)))]
        want = self.expected[key]
        self.looked_up.append(key)
        n = run.timed("lookup", lambda: engine_lookup(run, self.out, key))
        run.check("churn lookup rows", n == want, f"{key}: {n} != {want}")
        n = run.timed("sql_lookup", lambda: sql_lookup(run, self.out, key))
        run.check("churn sql lookup rows", n == want, f"{key}: {n} != {want}")
        # the warm-up step (i = -1) compacts too, so compaction is warm
        if (i + 1) % self.cycle(run) == 0:
            from sparkcodec import engine

            before = dir_bytes(self.out)
            res = run.timed("compact", lambda: engine.compact_table(run.spark, self.out))
            res["bytes_rewritten"] = dir_bytes(self.out) - before
            self.compactions.append(res)
        return True

    def checks(self, run):
        from sparkcodec import engine, verify

        got = verify._row_checksum(engine.decode_table(run.spark, self.out))
        want = verify._row_checksum(run.spark.read.parquet(self.base, *self.appended))
        run.check("churn table checksum", got == want, f"{got} != {want}")

    def layers(self, run):
        part_wall_stats(run, self.out)
        log_stats(run, self.out)
        run.layer["engine.decode.job_s"] = median(run.samples["lookup"]) - median(run.samples["decode_plan"])
        if self.compactions:
            run.layer["engine.compact.parts_in"] = median([c.get("parts_removed", 0) for c in self.compactions])
            run.layer["engine.compact.bytes_rewritten"] = median([c["bytes_rewritten"] for c in self.compactions])
        run.layer["engine.churn.bytes_written_per_user_byte"] = (
            (dir_bytes(self.out) - self.base_disk) / max(1, self.user_bytes)
        )
        prune_ratios(run, self.out, self.looked_up[-20:], self.expected)
        codec_probe(run, self.corpus)
        table_ratios(run, self.out)


class Operators(Workload):
    """The seven operator queries of the frozen suite over sf0.1-shaped
    tables, each written to the ``noop`` sink; one operation is one pass."""

    name = "operators"
    # per-query figures (q.<name>_s) instead of one mixed "query" kind

    def make_inputs(self, run):
        self.rows: dict[str, list[str]] = {}
        t0 = time.perf_counter()
        self.sf_dir = inputs.write_operator_tables(run.path("sf"), run.cfg["ops_scale"], run.seed)
        run.layer["inputs.operator_tables_s"] += time.perf_counter() - t0
        run.input_files += inputs.files_under(self.sf_dir)

    def step(self, run, i):
        from sparkcodec.queries import QUERIES

        for name in OPERATOR_QUERIES:
            def one():
                with run.tracer.span(f"queries.{name}"):
                    df = QUERIES[name](run.spark, self.sf_dir)
                with run.tracer.span("spark.action"):
                    if i < 0:  # the warm pass collects the rows the oracles check
                        self.rows[name] = canon([r.asDict() for r in df.collect()], df.columns)
                    else:
                        df.write.format("noop").mode("overwrite").save()

            run.timed("query", one, sample=f"q.{name}")
        return True

    def checks(self, run):
        import duckdb
        from sparkcodec.queries import ORACLES

        con = duckdb.connect()
        try:
            for t in ("documents", "lineitem", "orders", "embeddings"):
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            for name in OPERATOR_QUERIES:
                got = self.rows.get(name)
                tbl = con.execute(ORACLES[name]).fetch_arrow_table()
                want = canon(tbl.to_pylist(), tbl.column_names)
                run.check(f"oracle {name}", got == want, f"{len(got or ())} vs {len(want)} rows")
        finally:
            con.close()

    def figures(self, run):
        return {
            "operator_suite_s": sum(median(run.samples[f"q.{n}"]) for n in OPERATOR_QUERIES),
        }

    def layers(self, run):
        for n in OPERATOR_QUERIES:
            run.layer[f"queries.{n}_s"] = median(run.samples[f"q.{n}"])
        codec_probe(run, write_corpus(run, run.cfg["part_rows"], "probe"))


def canon(rows, cols) -> list[str]:
    """Order-insensitive canonical form: columns by name, floats to six
    significant digits, rows sorted (the form the oracle tests compare)."""
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c]
            if isinstance(v, float):
                v = "nan" if v != v else f"{v:.6g}"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


WORKLOADS = {w.name: w for w in (Roundtrip, Lookup, Churn, Operators)}
