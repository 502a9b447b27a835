"""The workloads. Each drives the package only through its public entry
points and returns end-to-end samples plus, when traced, the per-layer
figures. Sizes are in ``PARAMS``; the seed only changes contents.

Layer boundaries are measured two ways in a traced run:
- spans around the calls the untraced run also makes (``apply_batch``,
  ``merge_apply``), plus Spark's own streaming progress and job counts;
- after the timed phase, one isolated pass per source/operator layer over
  the same inputs into Spark's ``noop`` sink, each stage reading the
  previous stage's cached output (decode, parse, compact, scan, diff), and
  the two batch jobs with spans around each call: ``run_task`` snapshot and
  check, and ``minhash_lsh_pairs`` -> ``keep_representatives``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import gen
from harness import RssSampler, Session, Tracer, median

KEY = ["id"]
SETUPS = 3  # set-ups per run; setup_s is their median
LAYER_ROUNDS = 2  # timed rounds of the snapshot/check and dedup layer passes
DEDUP_THRESHOLD = 0.5
PHASES = ["inputs", "setup", "warm-up", "timed", "verify", "layers", "close", "done"]

PARAMS = {
    "cdc_catchup": {
        # two segments per partition, the first holding 60% of its events:
        # a drain is two micro-batches and the median event is in the first
        "gen": {"table_rows": 50_000, "events": 24_000, "partitions": 4,
                "first_segment": 0.6, "per_batch": 500},
        "traced_gen": {"snapshot": {"tables": 4, "rows": 50_000, "drift": 100}},
        "max_files_per_trigger": 4,
    },
    "cdc_realtime": {
        "gen": {"table_rows": 100_000, "warm_files": 3, "warm_events": 1_000},
        "traced_gen": {"corpus": {"docs": 20_000, "clusters": 500, "cluster_size": 4,
                                  "words": 40, "vocab": 20_000}},
        "rate": 500.0, "tick": 0.1, "warm_window": 2.0,
    },
}


@dataclass
class Run:
    """One benchmark run's state: inputs, session, tracer and tallies."""

    workload: str
    seed: int
    seconds: float
    inputs: str
    work: str
    meta: dict
    tracer: Tracer
    session: Session
    sampler: RssSampler
    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)
    setup_times: list = field(default_factory=list)
    session_starts: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    trace_extra: dict = field(default_factory=dict)
    started: float = field(default_factory=time.perf_counter)

    def mark(self, phase: str) -> None:
        """Note when `phase` ended, in seconds since the run started; spans
        opened from now on belong to the phase after it."""
        self.trace_extra.setdefault("phase_end_s", {})[phase] = round(
            time.perf_counter() - self.started, 2)
        self.tracer.phase = PHASES[PHASES.index(phase) + 1]

    def rounds(self, one_round) -> list:
        """Call `one_round` as often as fits in `seconds`, judged by the
        slowest round so far, and at least twice: the first timed round
        still runs a little slower than the next, so a run must never report
        that one alone."""
        out, took, t = [], [], time.perf_counter()
        while len(out) < 2 or time.perf_counter() - t + max(took) <= self.seconds:
            s = time.perf_counter()
            out.append(one_round())
            took.append(time.perf_counter() - s)
        return out

    @property
    def spark(self):
        return self.session.spark

    def op(self, ok: bool = True) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def check(self, name: str, mismatches: int, detail: str = "") -> None:
        """One output verification; counted as an operation."""
        self.checks.append({"name": name, "ok": mismatches == 0, "mismatches": mismatches,
                            "detail": detail})
        self.op(mismatches == 0)

    def setup(self, prepare) -> None:
        """Set up SETUPS times: get_spark, then the program-side preparation
        into a fresh target. The first set-up also launches the JVM and
        compiles the preparation's code; the last preparation is the one
        used."""
        for i in range(SETUPS):
            started = self.session.start()
            t = time.perf_counter()
            prepare(i)
            self.setup_times.append(started + time.perf_counter() - t)
            self.session_starts.append(started)
        self.trace_extra["setup_s"] = [round(x, 3) for x in self.setup_times]
        self.mark("setup")


def write_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


# -- shared CDC pieces -----------------------------------------------------------


def preload(spark, base: str, target_dir: str):
    """Bulk-load the base table into a fresh ParquetTable: one merge_apply
    of upsert images, the write-set shape a snapshot load hands the sink."""
    from pyspark.sql import functions as F

    from ape_dts_spark.sinks.parquet_table import ParquetTable

    df = spark.read.parquet(base)
    table = ParquetTable(spark, target_dir, df.schema)
    after = F.struct(*[F.col(c) for c in df.columns]).alias("after")
    compacted = df.select(F.lit(gen.DB).alias("schema"), F.lit(gen.TB).alias("tb"), "id",
                          F.lit("upsert").alias("op"), after, F.lit(0).cast("long").alias("seq"))
    spilled = compacted.filter(F.lit(False)).select(
        "schema", "tb", F.lit("insert").alias("row_type"), F.col("after").alias("before"),
        "after", "seq")
    table.merge_apply(compacted, spilled, KEY, stream_id="preload", batch_id=0)
    return table


def trace_merge_apply(run: Run, table) -> None:
    """Span every merge_apply on `table`, noting the version it committed."""
    run.tracer.wrap(table, "merge_apply", "sinks.merge_apply",
                    after=lambda attrs, _: attrs.update(version=table.version()))


def progress_rows(query) -> list[dict]:
    """Spark's per-trigger progress for triggers that read data."""
    progress = [json.loads(p.json) for p in query.recentProgress]
    return [p for p in progress if p["numInputRows"] > 0]


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def streaming_layers(run: Run, table, progress: list[dict], pipes_metrics: list[dict],
                     jobs: int) -> None:
    """Per-layer streaming and sink figures from spans, progress, job counts
    and the versions merge_apply committed."""
    import pyarrow.parquet as pq

    tr, L = run.tracer, run.layer
    dm = [p["durationMs"] for p in progress]
    if dm:
        L["streaming.trigger_overhead_ms_p50"] = median(
            [d["triggerExecution"] - d.get("addBatch", 0) for d in dm])
        for key, name in (("walCommit", "wal_commit"), ("queryPlanning", "query_planning"),
                          ("latestOffset", "latest_offset"), ("commitOffsets", "commit_offsets")):
            L[f"streaming.{name}_ms_p50"] = median([d.get(key, 0) for d in dm])
    batches = len(pipes_metrics)
    L["streaming.batches"] = batches
    if batches:
        L["streaming.jobs_per_batch"] = jobs / batches
        L["streaming.events_per_batch_p50"] = median([m["n_events"] for m in pipes_metrics])
    ab = tr.durations("streaming.apply_batch")
    if ab:
        L["streaming.apply_batch_ms_p50"] = 1000 * median(ab)
        L["streaming.apply_batch_self_ms_p50"] = 1000 * median(
            tr.self_times("streaming.apply_batch", "sinks.merge_apply"))
    spans = [s for s in tr.timed("sinks.merge_apply") if s["parent"] is not None]
    if spans:
        L["sinks.merge_apply_ms_p50"] = 1000 * median([s["end"] - s["start"] for s in spans])
        rows, per_batch_bytes = 0, []
        for s in spans:
            files = [f.removeprefix("file:")
                     for f in table.at_version(s["attrs"]["version"]).inputFiles()]
            rows += sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            per_batch_bytes.append(sum(os.path.getsize(f) for f in files))
        events = sum(m["n_events"] for m in pipes_metrics)
        L["sinks.rows_written_per_event"] = rows / max(events, 1)
        L["sinks.bytes_written_per_batch"] = median(per_batch_bytes)


def verify_target(run: Run, table, expected: str, name: str) -> None:
    """The target's current version equals the expected state, row for row."""
    import duckdb

    files = [f.removeprefix("file:") for f in table.current().inputFiles()]
    con = duckdb.connect()
    try:
        got = f"read_parquet({files!r})"
        want = f"read_parquet('{expected}')"
        q = (f"SELECT (SELECT count(*) FROM (SELECT id, k, c, pad FROM {got} EXCEPT ALL "
             f"SELECT id, k, c, pad FROM {want})) + (SELECT count(*) FROM (SELECT id, k, c, pad "
             f"FROM {want} EXCEPT ALL SELECT id, k, c, pad FROM {got}))")
        bad = con.execute(q).fetchone()[0]
        n = con.execute(f"SELECT count(*) FROM {want}").fetchone()[0]
    finally:
        con.close()
    run.check(name, int(bad), f"{n} expected rows")


def codec_probe(run: Run) -> None:
    """Outside the timed region: decode one pyarrow-zstd and one
    pyarrow-lz4-frame Kafka segment with the package's segment parser.
    Failures are reported in `sources.codec_probe_failures` and the
    per-layer `failed_ratio`, not as workload operations."""
    from ape_dts_spark.sources.kafka_segment import parse_segment_bytes

    with open(os.path.join(run.inputs, "probe_expected.jsonl"), "rb") as f:
        want = f.read().split(b"\n")[:-1]
    failures = 0
    for codec in ("zstd", "lz4"):
        path = os.path.join(run.inputs, f"probe_{codec}", f"{0:020d}.log")
        with open(path, "rb") as f:
            data = f.read()
        try:
            got = [r["value"] for r in parse_segment_bytes(data)]
            ok, detail = got == want, f"{len(got)} of {len(want)} records"
        except (ValueError, NotImplementedError) as e:
            ok, detail = False, f"{type(e).__name__}: {e}"
        failures += 0 if ok else 1
        run.trace_extra.setdefault("codec_probe", {})[codec] = {"ok": ok, "detail": detail}
        print(f"# codec-acceptance {codec}: {'ok' if ok else 'FAILED'} ({detail})", flush=True)
    run.layer["sources.codec_probe_failures"] = failures
    run.trace_extra["codec_probes"] = (2, failures)


# -- cdc_catchup -----------------------------------------------------------------


def cdc_catchup(run: Run) -> dict:
    """Closed loop: drain the whole Kafka backlog through
    stream_kafka_segments -> parse_debezium -> CdcPipeline.run(availableNow),
    again and again until the time is up. Every drain replays the complete
    history into the same target under a new stream id and checkpoint, which
    leaves the same final state, so each drain does the same work."""
    from ape_dts_spark.sources.kafka_segment import stream_kafka_segments
    from ape_dts_spark.streaming.cdc import CdcPipeline, parse_debezium

    P = PARAMS["cdc_catchup"]
    base = os.path.join(run.inputs, "base.parquet")
    segs = os.path.join(run.inputs, "segments")
    events = run.meta["events"]
    tables = {}

    def prepare(i):
        tables[i] = preload(run.spark, base, os.path.join(run.work, f"target{i}"))

    run.setup(prepare)
    table = tables[len(tables) - 1]
    spark = run.spark
    payload = table.payload_schema

    def drain(n: int):
        raw = stream_kafka_segments(spark, segs, max_files_per_trigger=P["max_files_per_trigger"])
        changes = parse_debezium(raw.selectExpr("CAST(value AS STRING) AS value"), payload)
        pipe = CdcPipeline(spark, table, key_cols=KEY, stream_id=f"drain{n}")
        run.tracer.wrap(pipe, "apply_batch", "streaming.apply_batch")
        t_wall = time.time()
        query = pipe.run(changes, os.path.join(run.work, f"ckpt{n}"), available_now=True)
        # drain start to the final commit; the query's own shutdown after it
        # is not part of applying the backlog
        took = max(m["at"] for m in pipe.metrics) - t_wall
        for _ in pipe.metrics:
            run.op()
        return pipe, query, t_wall, took

    # the first drain applies the backlog untimed: it pays the JIT and
    # Python-worker start-up, and every timed drain after it is a replay
    pipe = drain(0)[0]
    run.op(sum(m["n_events"] for m in pipe.metrics) == events)
    run.mark("warm-up")
    trace_merge_apply(run, table)

    def one_round():
        pipe, query, t_wall, took = drain(len(drains) + 1)
        run.op(sum(m["n_events"] for m in pipe.metrics) == events)
        drains.append((pipe.metrics, query, t_wall, took))

    drains: list = []
    run.rounds(one_round)
    rates = [events / took for _, _, _, took in drains]
    lat_vals = [m["at"] - t_wall for ms, _, t_wall, _ in drains for m in ms]
    lat_w = [m["n_events"] for ms, _, _, _ in drains for m in ms]
    run.trace_extra["round_s"] = [round(d[3], 3) for d in drains]

    run.mark("timed")
    run.sampler.stop()
    verify_target(run, table, os.path.join(run.inputs, "expected.parquet"), "cdc target == replay")
    run.mark("verify")

    if run.tracer.enabled:
        streaming_layers(run, table, [p for _, q, _, _ in drains for p in progress_rows(q)],
                         [m for ms, _, _, _ in drains for m in ms],
                         sum(jobs_in_group(spark, str(q.runId)) for _, q, _, _ in drains))
        catchup_layers(run, segs, payload)
        snapshot_check_layers(run)
    return {"rows_per_s": median(rates), "latency": (lat_vals, lat_w)}


def catchup_layers(run: Run, segs: str, payload) -> None:
    """Isolated source and operator passes over the same backlog."""
    from pyspark.storagelevel import StorageLevel

    from ape_dts_spark.operators.merge import compact_changes
    from ape_dts_spark.sources.kafka_segment import read_kafka_segments
    from ape_dts_spark.streaming.cdc import parse_debezium

    spark, tr, L = run.spark, run.tracer, run.layer
    with tr.span("sources.kafka_decode"):
        decode_s = timed(lambda: write_noop(read_kafka_segments(spark, segs)))
    L["sources.kafka_decode_s"] = decode_s
    L["sources.kafka_decode_mb_per_s"] = run.meta["json_bytes"] / 1e6 / decode_s
    raw = read_kafka_segments(spark, segs).selectExpr("CAST(value AS STRING) AS value")
    raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
    raw.count()
    parsed = parse_debezium(raw, payload)
    with tr.span("sources.debezium_parse"):
        L["sources.debezium_parse_s"] = timed(lambda: write_noop(parsed))
    parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
    parsed.count()
    compacted, spilled = compact_changes(parsed, KEY)
    with tr.span("operators.compact"):
        L["operators.compact_s"] = timed(lambda: write_noop(compacted))
    L["operators.compaction_ratio"] = compacted.count() / run.meta["events"]
    parsed.unpersist()
    raw.unpersist()


# -- cdc_realtime ----------------------------------------------------------------


def cdc_realtime(run: Run) -> dict:
    """Open loop: a separate single-threaded process writes one Debezium
    JSONL file per tick at a fixed event rate; read_json_change_stream ->
    CdcPipeline.run(available_now=False) applies it to a large preloaded
    table. Lag of an event = commit of its micro-batch - its due time."""
    from ape_dts_spark.streaming.cdc import CdcPipeline, read_json_change_stream

    P = PARAMS["cdc_realtime"]
    base = os.path.join(run.inputs, "base.parquet")
    tables = {}

    def prepare(i):
        tables[i] = preload(run.spark, base, os.path.join(run.work, f"target{i}"))

    run.setup(prepare)
    table = tables[len(tables) - 1]
    spark = run.spark
    payload = table.payload_schema

    # untimed warm-up: a backlog of the same shape, one file per micro-batch,
    # applied to the first set-up's target
    wpipe = CdcPipeline(spark, tables[0], key_cols=KEY, stream_id="warm")
    wpipe.run(read_json_change_stream(spark, os.path.join(run.inputs, "warm"), payload,
                                      max_files_per_trigger=1),
              os.path.join(run.work, "warm_ckpt"), available_now=True)
    run.op(sum(m["n_events"] for m in wpipe.metrics) == run.meta["warm_events"])

    trace_merge_apply(run, table)
    src, stage = os.path.join(run.work, "stream"), os.path.join(run.work, "stage")
    os.makedirs(src)
    os.makedirs(stage)
    summary = os.path.join(run.work, "stream_summary.json")
    duration = P["warm_window"] + run.seconds
    writer = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), "stream",
         "--base", base, "--out", src, "--stage", stage, "--summary", summary,
         "--seed", str(run.seed), "--seq0", "1", "--rate", str(P["rate"]),
         "--tick", str(P["tick"]), "--start-delay", "1.0", "--duration", str(duration)],
    )
    run.sampler.exclude.add(writer.pid)
    try:
        pipe = CdcPipeline(spark, table, key_cols=KEY, stream_id="live")
        run.tracer.wrap(pipe, "apply_batch", "streaming.apply_batch")
        query = pipe.run(read_json_change_stream(spark, src, payload),
                         os.path.join(run.work, "ckpt"), available_now=False)
        try:
            wait_warm_window(writer, summary + ".ready", P["warm_window"])
            run.mark("warm-up")
            if writer.wait(timeout=duration + 60) != 0:
                raise RuntimeError(f"stream writer exited with {writer.returncode}")
            with open(summary) as f:
                s = json.load(f)
            deadline = time.time() + 60
            while max((m["max_seq"] or 0 for m in pipe.metrics), default=0) < s["last_seq"]:
                if query.exception() is not None or time.time() > deadline:
                    raise RuntimeError(f"stream stalled: {query.exception()}")
                time.sleep(0.05)
        finally:
            query.stop()
    finally:
        if writer.poll() is None:
            writer.kill()
        writer.wait()
    for _ in pipe.metrics:
        run.op()

    ms = sorted(pipe.metrics, key=lambda m: m["batch_id"])
    max_seq = np.array([m["max_seq"] for m in ms])
    at = np.array([m["at"] for m in ms])
    n_ev = s["events"]
    seqs = np.arange(1, n_ev + 1)
    due = gen.due_time(s["t0"], np.arange(n_ev), P["rate"])
    lag = at[np.searchsorted(max_seq, seqs)] - due
    measured = due >= s["t0"] + P["warm_window"]
    first_batch = int(np.searchsorted(max_seq, seqs[measured][0]))
    busy = {p["batchId"]: p["durationMs"]["triggerExecution"] / 1000 for p in progress_rows(query)}
    # the last batch holds only the tail left when the writer stopped
    live = [m for m in ms[first_batch:-1] or ms[first_batch:] if m["batch_id"] in busy]
    rows_per_s = sum(m["n_events"] for m in live) / sum(busy[m["batch_id"]] for m in live)
    run.op(sum(m["n_events"] for m in ms) == n_ev)
    run.trace_extra.update(generator_late_ms_max=s["late_ms_max"], batches=len(ms),
                           batch_events=[m["n_events"] for m in ms],
                           batch_s=[busy.get(m["batch_id"]) for m in ms])
    run.layer["harness.generator_late_ms_max"] = s["late_ms_max"]

    run.mark("timed")
    run.sampler.stop()
    verify_target(run, table, summary + ".state.parquet", "cdc target == replay")
    run.mark("verify")

    if run.tracer.enabled:
        streaming_layers(run, table, progress_rows(query), ms,
                         jobs_in_group(spark, str(query.runId)))
        realtime_parse_layer(run, src, payload)
        dedup_layers(run)
    return {"rows_per_s": rows_per_s, "latency": (lag[measured], None)}


def wait_warm_window(writer, ready: str, warm_window: float) -> None:
    """Return once the stream writer's warm-up window is over."""
    deadline = time.time() + 60
    while not os.path.exists(ready):
        if writer.poll() is not None or time.time() > deadline:
            raise RuntimeError(f"stream writer did not start ({writer.poll()})")
        time.sleep(0.05)
    with open(ready) as f:
        t0 = json.load(f)["t0"]
    time.sleep(max(0.0, t0 + warm_window - time.time()))


def realtime_parse_layer(run: Run, src: str, payload) -> None:
    from pyspark.storagelevel import StorageLevel

    from ape_dts_spark.streaming.cdc import parse_debezium

    raw = run.spark.read.text(src).persist(StorageLevel.MEMORY_AND_DISK)
    raw.count()
    with run.tracer.span("sources.debezium_parse"):
        run.layer["sources.debezium_parse_s"] = timed(
            lambda: write_noop(parse_debezium(raw, payload)))
    raw.unpersist()


# -- snapshot and check (layer pass of a traced cdc_catchup run) ------------------


def task_config(kind: str, src: str, dst: str, tables: list[str], compare: str = "",
                sink: str = "parquet"):
    from ape_dts_spark.config.task_config import TaskConfig

    compare_line = f"compare_url={compare}\n" if compare else ""
    registry = "".join(f"{tb}=id\n" for tb in tables)
    return TaskConfig.from_string(
        f"[extractor]\nextract_type={kind}\nurl={src}\ndb={gen.DB}\ntables={','.join(tables)}\n"
        f"[sinker]\nsink_type={sink}\nurl={dst}\n{compare_line}"
        f"[registry]\n{registry}"
    )


def snapshot_check_layers(run: Run) -> None:
    """run_task snapshot (parquet -> parquet) of several sbtest tables, then
    run_task check of the sources against a drifted replica into check logs:
    one untimed round, then LAYER_ROUNDS timed ones; plus a noop-sink
    snapshot (the scan alone) and check_diff into noop (the join alone)."""
    from ape_dts_spark.task import run_task

    meta = run.meta["snapshot"]
    tables = meta["tables"]
    rows = meta["rows"] * len(tables)
    batch = os.path.join(run.inputs, "batch")
    src, rep = os.path.join(batch, "src"), os.path.join(batch, "replica")
    out, chk = os.path.join(run.work, "snapshot"), os.path.join(run.work, "check")
    snap_cfg = task_config("snapshot", src, out, tables)
    check_cfg = task_config("check", src, chk, tables, compare=rep, sink="check_log")
    spark, tr, L = run.spark, run.tracer, run.layer

    def one_round():
        with tr.span("task.snapshot"):
            t_snap = timed(lambda: run_task(spark, snap_cfg))
        with tr.span("task.check"):
            t_check = timed(lambda: run_task(spark, check_cfg))
        run.op()
        run.op()
        return t_snap, t_check

    tr.phase = "layers-warm-up"
    one_round()
    tr.phase = "layers"
    snaps, checks = zip(*[one_round() for _ in range(LAYER_ROUNDS)])
    L["operators.check_rows_flagged"] = verify_snapshot_check(run, meta, src, out, chk)
    L["task.snapshot_rows_per_s"] = rows / median(snaps)
    L["task.check_rows_per_s"] = rows / median(checks)
    noop_cfg = task_config("snapshot", src, "", tables, sink="noop")
    with tr.span("sources.snapshot_read"):
        L["sources.snapshot_read_s"] = timed(lambda: run_task(spark, noop_cfg))
    L["sinks.snapshot_write_s"] = median(snaps) - L["sources.snapshot_read_s"]
    check_diff_layer(run, tables, src, rep)


def check_diff_layer(run: Run, tables: list[str], src: str, rep: str) -> None:
    from ape_dts_spark.operators.checker import check_diff

    spark = run.spark
    total = 0.0
    for tb in tables:
        d = check_diff(spark.read.parquet(f"{src}/{tb}.parquet"),
                       spark.read.parquet(f"{rep}/{tb}.parquet"), KEY, include_extra=True)
        with run.tracer.span("operators.check_diff", table=tb):
            total += timed(lambda: write_noop(d))
    run.layer["operators.check_diff_s"] = total


def verify_snapshot_check(run: Run, meta: dict, src: str, out: str, chk: str) -> int:
    """Snapshot outputs equal their sources; each check log holds exactly the
    injected drift per class. Returns the number of flagged rows."""
    import duckdb

    con = duckdb.connect()
    flagged = 0
    try:
        for tb in meta["tables"]:
            a = f"read_parquet('{src}/{tb}.parquet')"
            b = f"read_parquet('{out}/{tb}.parquet/*.parquet')"
            bad = con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})) + "
                f"(SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))"
            ).fetchone()[0]
            run.check(f"snapshot {tb} == source", int(bad))
            want = meta["expected"][tb]
            for cls in ("miss", "diff", "extra"):
                d = os.path.join(chk, f"check_{tb}", f"check_class={cls}")
                got = []
                if os.path.isdir(d):
                    for f in sorted(os.listdir(d)):
                        if f.startswith("part-"):
                            with open(os.path.join(d, f)) as fh:
                                got += [json.loads(x)["id_col_values"]["id"]
                                        for x in fh if x.strip()]
                flagged += len(got)
                bad = len(set(got) ^ set(want[cls])) + (len(got) - len(set(got)))
                run.check(f"check log {tb} {cls}", bad,
                          f"{len(got)} flagged, {len(want[cls])} injected")
    finally:
        con.close()
    return flagged


# -- dedup (layer pass of a traced cdc_realtime run) -----------------------------


def dedup_layers(run: Run) -> None:
    """minhash_lsh_pairs -> keep_representatives over a corpus with planted
    near-duplicate clusters, the keep-list written as parquet: one untimed
    round (the first one compiles the 64-hash aggregation), then
    LAYER_ROUNDS timed ones."""
    from pyspark.storagelevel import StorageLevel

    from ape_dts_spark.functions.dedup import keep_representatives, minhash_lsh_pairs

    meta = run.meta["corpus"]
    out = os.path.join(run.work, "keep")
    corpus = os.path.join(run.inputs, "corpus", "corpus.parquet")
    spark, tr, L = run.spark, run.tracer, run.layer

    def one_round():
        df = spark.read.parquet(corpus)
        t = time.perf_counter()
        with tr.span("functions.minhash_lsh_pairs") as attrs:
            pairs = minhash_lsh_pairs(df, "id", "text", threshold=DEDUP_THRESHOLD)
            pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
            attrs["pairs"] = pairs.count()
        with tr.span("functions.keep_representatives"):
            keep_representatives(df, "id", pairs).write.mode("overwrite").parquet(out)
        took = time.perf_counter() - t
        pairs.unpersist()
        run.op()
        return took

    tr.phase = "layers-warm-up"
    one_round()
    tr.phase = "layers"
    rounds = [one_round() for _ in range(LAYER_ROUNDS)]
    verify_keep_list(run, meta, out)
    spans = [s for s in tr.spans if s["phase"] == "layers"]
    L["functions.dedup_docs_per_s"] = meta["docs"] / median(rounds)
    L["functions.minhash_pairs_s"] = median(
        [s["end"] - s["start"] for s in spans if s["name"] == "functions.minhash_lsh_pairs"])
    L["functions.keep_representatives_s"] = median(
        [s["end"] - s["start"] for s in spans if s["name"] == "functions.keep_representatives"])
    L["functions.pairs"] = [s for s in spans if s["name"] == "functions.minhash_lsh_pairs"][-1][
        "attrs"]["pairs"]


def verify_keep_list(run: Run, meta: dict, out: str) -> None:
    """Each planted cluster maps to its smallest id; every other document
    keeps itself."""
    import duckdb

    want = {}
    for members in meta["clusters"]:
        for m in members:
            want[m] = members[0]
    con = duckdb.connect()
    try:
        rows = con.execute(f"SELECT doc_id, rep_id FROM read_parquet('{out}/*.parquet')").fetchall()
    finally:
        con.close()
    got = dict(rows)
    bad = abs(len(got) - meta["docs"]) + len(rows) - len(got)
    bad += sum(1 for d, r in got.items() if r != want.get(d, d))
    run.check("keep-list collapses planted clusters", bad,
              f"{len(meta['clusters'])} clusters, {len(got)} docs")


WORKLOADS = {
    "cdc_catchup": cdc_catchup,
    "cdc_realtime": cdc_realtime,
}
