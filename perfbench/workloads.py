"""The benchmark workloads.

Each workload has a ``setup`` that computes the expected outputs from the
generated inputs (outside every timed region) and a ``run_pass`` that
performs one pass of timed operations, checks each output and, when tracing,
records spans and per-layer metrics into the run context.
"""

from __future__ import annotations

import hashlib
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

import spark_probe as probe
from measure import Span, Tracer, covered_s, self_times


@dataclass
class Op:
    name: str
    wall: float
    ok: bool
    detail: str = ""


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    inputs: Path
    work: Path
    pass_id: int = 0
    layer: dict = field(default_factory=dict)  # per-layer sums of this pass
    check_s: float = 0.0  # time spent checking outputs, kept out of pass walls

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0) + value

    def add_all(self, prefix: str, values: dict, span: Span | None = None) -> None:
        """Add ``values`` to this pass's ``prefix.*`` metrics and attach
        them to ``span`` in the trace."""
        for k, v in values.items():
            self.add(f"{prefix}.{k}", v)
        if span is not None:
            span.attrs[prefix] = values

    def check(self, fn, *args) -> tuple[bool, str]:
        t0 = time.perf_counter()
        try:
            return fn(*args)
        except Exception:
            return False, _short_error()
        finally:
            self.check_s += time.perf_counter() - t0


def outcome(ops: list[Op]) -> dict:
    """Attempted and failed operations of a run; a failed check counts."""
    failed = sum(not o.ok for o in ops)
    return {
        "attempted": len(ops),
        "failed": failed,
        "correct": failed == 0,
        "failed_op_ratio": failed / len(ops) if ops else 1.0,
    }


def _short_error() -> str:
    return traceback.format_exc(limit=2).strip().splitlines()[-1][:300]


def _jobs_under(ctx: Ctx, jobs: list[dict], parents: list[Span]) -> None:
    """Add one exec span per job under the last parent it starts in."""
    for j in jobs:
        if j["start"] is None or j["end"] is None:
            continue
        parent = parents[0]
        for p in parents:
            if p.start <= j["start"] <= p.end:
                parent = p
        ctx.tracer.add(f"job {j['id']}", "exec", j["start"], j["end"], parent=parent)


def _record_self_times(ctx: Ctx, root: Span) -> None:
    tree = ctx.tracer.subtree(root)
    for layer, t in self_times(tree).items():
        ctx.add(f"self.{layer}_s", t)
    ctx.add("trace.covered_s", covered_s(tree))
    ctx.add("trace.op_wall_s", root.wall)


# -- output checks (pure functions, unit-tested) -----------------------------


def check_frame(got, expected) -> tuple[bool, str]:
    """Compare a Spark result to its DuckDB oracle frame with the canonical
    comparison of ``tools/verify_local``: same columns, same numeric dtype
    kinds, equal stringified rows in any order."""
    from tools.verify_local import canon_frame, kind_mismatches

    if sorted(got.columns) != sorted(expected.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(expected.columns)}"
    bad = kind_mismatches(got, expected)
    if bad:
        return False, "dtype kind mismatch: " + "; ".join(bad)
    a, b = canon_frame(got), canon_frame(expected)
    if len(a) != len(b):
        return False, f"rowcount {len(a)} != {len(b)}"
    if a != b:
        return False, "value mismatch: " + str([(x, y) for x, y in zip(a, b) if x != y][:2])
    if not a:
        return False, "empty result"
    return True, f"{len(a)} rows"


def md5_part(key: str, r: int) -> int:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % r


def wordcount_reference(corpus: Path, reducers: int) -> list[list[str]]:
    """Expected content of every ``part-NNNNN`` file: word counts, each word
    in part ``md5(word) % R``, lines in sorted order within a part."""
    counts: Counter = Counter()
    for f in sorted(corpus.iterdir()):
        counts.update(f.read_text().split())
    parts: list[list[str]] = [[] for _ in range(reducers)]
    for w in sorted(counts):
        parts[md5_part(w, reducers)].append(f"{w}\t{counts[w]}")
    return parts


def check_parts(out_dir: Path, expected: list[list[str]]) -> tuple[bool, str]:
    files = sorted(out_dir.glob("part-*"))
    if [f.name for f in files] != [f"part-{i:05d}" for i in range(len(expected))]:
        return False, f"part files {[f.name for f in files]}"
    for i, (f, exp) in enumerate(zip(files, expected)):
        got = f.read_text().splitlines()
        if got == exp:
            continue
        keys = [line.split("\t", 1)[0] for line in got]
        if keys != sorted(keys):
            return False, f"part {i}: keys not in sorted order"
        if any(md5_part(k, len(expected)) != i for k in keys):
            return False, f"part {i}: key placed in the wrong part"
        return False, f"part {i}: counts differ from the reference"
    return True, f"{sum(map(len, expected))} keys"


# -- llm_text ----------------------------------------------------------------

# All read the documents table.  Fixed per-job and per-task cost dominates
# on these small inputs; dedup_ngram_jaccard holds a scoped cache over its
# shingle self-join, bpe_train_merges fires jobs while building its merge
# loop, and heavy_hitters_mg_twophase crosses the Arrow boundary
# (mapInPandas).
LLM_QUERIES = ("dedup_ngram_jaccard", "bpe_train_merges", "heavy_hitters_mg_twophase")


class LlmText:
    name = "llm_text"
    # Catalyst-heavy passes keep getting faster for ~7 passes as the JIT
    # warms; measuring starts at the ninth, on the flat part of the curve
    warmup_passes = 7

    def setup(self, ctx: Ctx, manifest: dict) -> None:
        import duckdb

        from map_reduce485_spark.queries import REGISTRY

        self.specs = {q: REGISTRY[q] for q in LLM_QUERIES}
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{ctx.inputs}/documents.parquet')"
        )
        self.expected = {q: con.execute(s.oracle).df() for q, s in self.specs.items()}
        con.close()
        self.rows_per_pass = manifest["inputs"]["documents.parquet"]["rows"] * len(LLM_QUERIES)

    def run_pass(self, ctx: Ctx) -> list[Op]:
        from map_reduce485_spark.queries._util import release_scoped_caches

        spark, tr = ctx.spark, ctx.tracer
        ops = []
        for i, q in enumerate(LLM_QUERIES):
            group = f"pb-{ctx.pass_id}-{i}"
            spark.sparkContext.setJobGroup(group, q)
            pdf, df, err = None, None, ""
            t0 = time.perf_counter()
            with tr.span(q, "op") as op:
                try:
                    with tr.span("build", "queries") as build:
                        df = self.specs[q].fn(spark, str(ctx.inputs))
                    with tr.span("collect", "exec") as collect:
                        pdf = df.toPandas()
                except Exception:
                    err = _short_error()
            wall = time.perf_counter() - t0
            if tr.enabled and not err:
                self._trace_op(ctx, group, df, op, build, collect)
            with tr.span("release_scoped_caches", "scope") as rel:
                released = release_scoped_caches()
            if tr.enabled:
                ctx.add("scope.released", released)
                ctx.add("scope.release_s", rel.wall)
            ok, detail = (False, err) if err else ctx.check(check_frame, pdf, self.expected[q])
            ops.append(Op(q, wall, ok, detail))
        return ops

    def _trace_op(self, ctx, group, df, op, build, collect) -> None:
        tr = ctx.tracer
        jobs = probe.group_jobs(ctx.spark, group)
        built = [j for j in jobs if j["start"] is not None and j["start"] <= build.end]
        ctx.add("queries.build_s", build.wall)
        ctx.add("queries.build_jobs", len(built))
        ctx.add("queries.build_tasks", probe.exec_totals(built).get("tasks", 0))
        ctx.add_all("exec", probe.exec_totals(jobs), op)
        for phase, (a, b) in probe.plan_phases(df).items():
            ctx.add(f"catalyst.{phase}_ms", (b - a) * 1000)
            parent = build if a < build.end else collect
            tr.add(phase, "catalyst", a, b, parent=parent)
        _jobs_under(ctx, jobs, [op, build, collect])
        ctx.add_all("python", probe.python_metrics(df._jdf.queryExecution().executedPlan()), op)
        ctx.add_all("scope", probe.storage_state(ctx.spark), op)
        loads = [s for s, _ in tr.subtree(op) if s.layer == "catalog"]
        ctx.add("catalog.load_calls", len(loads))
        ctx.add("catalog.load_s", sum(s.wall for s in loads))
        _record_self_times(ctx, op)


# -- mapreduce_corpus ----------------------------------------------------------

MR_REDUCERS = 4


class MapReduceCorpus:
    name = "mapreduce_corpus"
    warmup_passes = 1

    def setup(self, ctx: Ctx, manifest: dict) -> None:
        import mr_wordcount
        from map_reduce485_spark.mapreduce import job

        self.mr = job
        corpus = ctx.inputs / "corpus"
        self.expected = wordcount_reference(corpus, MR_REDUCERS)
        script = Path(mr_wordcount.__file__).resolve()
        self.jobs = (
            ("wordcount_callable", mr_wordcount.map_words, mr_wordcount.reduce_sum),
            ("wordcount_pipe", f"{sys.executable} {script} map", f"{sys.executable} {script} reduce"),
        )
        info = manifest["inputs"]["corpus"]
        self.num_mappers = info["files"]
        self.rows_per_pass = info["rows"] * len(self.jobs)

    def run_pass(self, ctx: Ctx) -> list[Op]:
        spark, tr = ctx.spark, ctx.tracer
        ops = []
        for i, (name, mapper, reducer) in enumerate(self.jobs):
            out = ctx.work / "mr" / name
            group = f"pb-{ctx.pass_id}-{i}"
            spark.sparkContext.setJobGroup(group, name)
            req = self.mr.JobRequest(
                input_directory=str(ctx.inputs / "corpus"),
                output_directory=str(out),
                mapper_executable=mapper,
                reducer_executable=reducer,
                num_mappers=self.num_mappers,
                num_reducers=MR_REDUCERS,
            )
            err = ""
            t0 = time.perf_counter()
            with tr.span(name, "op") as op:
                try:
                    with tr.span("MapReduceJob.run", "mapreduce") as run:
                        self.mr.MapReduceJob(spark, req).run()
                except Exception:
                    err = _short_error()
            wall = time.perf_counter() - t0
            if tr.enabled and not err:
                self._trace_op(ctx, group, op, run, out)
            ok, detail = (False, err) if err else ctx.check(check_parts, out, self.expected)
            ops.append(Op(name, wall, ok, detail))
        return ops

    def _trace_op(self, ctx, group, op, run, out) -> None:
        tr = ctx.tracer
        jobs = probe.group_jobs(ctx.spark, group)
        ctx.add_all("exec", probe.exec_totals(jobs), op)
        ctx.add("mapreduce.job_s", run.wall)
        deletes = [s for s, _ in tr.subtree(op) if s.name == "delete_output_dir"]
        ctx.add("mapreduce.delete_s", sum(s.wall for s in deletes))
        for j in jobs:
            for st in j["stages"]:
                wall = (st["end"] or 0) - (st["start"] or 0)
                if st["shuffle_write_bytes"] > 0:
                    ctx.add("mapreduce.map_stage_s", wall)
                    ctx.add("mapreduce.shuffle_records", st["shuffle_write_records"])
                    ctx.add("mapreduce.shuffle_bytes", st["shuffle_write_bytes"])
                else:
                    ctx.add("mapreduce.reduce_stage_s", wall)
        ctx.add("mapreduce.output_bytes", sum(f.stat().st_size for f in out.glob("part-*")))
        _jobs_under(ctx, jobs, [op, run])
        _record_self_times(ctx, op)


# -- stream_events -------------------------------------------------------------

MAX_FILES_PER_TRIGGER = 4


def _latest_totals(pdf):
    """Final per-user state of the update-mode running-totals sink: the row
    with the highest per-user emission counter (as the engine's
    ``streaming_custom_state_gate`` reads it)."""
    last = pdf.sort_values("n_updates").groupby("user_id", as_index=False).last()
    return last[["user_id", "total_events", "total_value_cents"]]


class StreamEvents:
    name = "stream_events"
    # micro-batch walls are flat after the first pass; a warm-up pass would
    # not fit the run's time budget
    warmup_passes = 0

    def setup(self, ctx: Ctx, manifest: dict) -> None:
        import duckdb

        from map_reduce485_spark.queries import REGISTRY
        from map_reduce485_spark.streaming import (
            stream_sessionize,
            stream_tumbling_counts,
            stream_user_running_totals,
        )

        self.landing = ctx.inputs / "events_landing"
        # (name, stream job, sink mode, batch twin whose oracle checks it, post)
        self.streams = (
            ("tumbling_counts", stream_tumbling_counts, "complete", "streaming_tumbling_gate", None),
            ("sessionize", stream_sessionize, "complete", "streaming_sessionize_gate", None),
            (
                "user_running_totals",
                stream_user_running_totals,
                "update",
                "streaming_custom_state_gate",
                _latest_totals,
            ),
        )
        con = duckdb.connect()
        # ts is stored UTC-adjusted; the oracles format it as a naive UTC
        # timestamp, as Spark does under the engine's UTC session time zone
        con.execute(
            "CREATE VIEW events AS SELECT * REPLACE (make_timestamp(epoch_us(ts)) AS ts)"
            f" FROM read_parquet('{self.landing}/*.parquet')"
        )
        self.expected = {s[0]: con.execute(REGISTRY[s[3]].oracle).df() for s in self.streams}
        con.close()
        self.rows_per_pass = manifest["inputs"]["events_landing"]["rows"] * len(self.streams)

    def run_pass(self, ctx: Ctx) -> list[Op]:
        from map_reduce485_spark.streaming import read_events_stream

        spark, tr = ctx.spark, ctx.tracer
        ops = []
        for name, job, mode, _, post in self.streams:
            table = f"pb_{name}_{ctx.pass_id}"
            ckpt = ctx.work / "checkpoints" / table
            shutil.rmtree(ckpt, ignore_errors=True)
            q, err, seen = None, "", {}
            with tr.span(name, "streaming") as stream:
                try:
                    with tr.span("start", "streaming"):
                        q = (
                            job(read_events_stream(spark, str(self.landing), MAX_FILES_PER_TRIGGER))
                            .writeStream.format("memory")
                            .queryName(table)
                            .outputMode(mode)
                            .trigger(availableNow=True)
                            .option("checkpointLocation", str(ckpt))
                            .start()
                        )
                    with tr.span("awaitTermination", "streaming") as wait:
                        if tr.enabled:
                            seen = _await_collecting(q)
                        else:
                            q.awaitTermination()
                except Exception:
                    err = _short_error()
            progress = q.recentProgress if q is not None else []
            ok, detail = (False, err) if err else ctx.check(self._check, spark, table, name, post)
            spark.catalog.dropTempView(table)
            batches = [p for p in progress if "triggerExecution" in p["durationMs"]]
            if not batches:
                ops.append(Op(name, stream.wall if stream else 0.0, False, detail or "no batches"))
                continue
            for p in batches:
                ops.append(Op(f"{name}#{p['batchId']}", p["durationMs"]["triggerExecution"] / 1000, ok, detail))
            if tr.enabled and not err:
                self._trace_stream(ctx, q, batches, seen, wait)
        return ops

    def _check(self, spark, table, name, post) -> tuple[bool, str]:
        pdf = spark.table(table).toPandas()
        return check_frame(post(pdf) if post else pdf, self.expected[name])

    def _trace_stream(self, ctx, q, batches, seen, wait) -> None:
        tr = ctx.tracer
        ctx.add_all("streaming", probe.progress_totals(batches), wait)
        jobs = probe.group_jobs(ctx.spark, str(q.runId))
        ctx.add_all("exec", probe.exec_totals(jobs), wait)
        py: dict[str, float] = {}
        for execution in seen.values():
            for k, v in probe.python_metrics(execution.executedPlan()).items():
                py[k] = py.get(k, 0) + v
        ctx.add_all("python", py, wait)
        spans = []
        for p in batches:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            end = start + p["durationMs"]["triggerExecution"] / 1000
            spans.append(tr.add(f"batch {p['batchId']}", "streaming", start, end, parent=wait))
        for sp in spans:
            inside = [j for j in jobs if j["start"] is not None and sp.start <= j["start"] <= sp.end]
            _jobs_under(ctx, inside, [sp])
            _record_self_times(ctx, sp)


def _await_collecting(q, poll_s: float = 0.05) -> dict:
    """Wait for the stream while keeping a handle on every micro-batch's
    execution, so each batch's plan metrics can be read afterwards."""
    seen = {}
    stream = q._jsq.streamingQuery()
    while True:
        done = q.awaitTermination(poll_s)
        execution = stream.lastExecution()
        if execution is not None:
            seen[execution.currentBatchId()] = execution
        if done:
            return seen


WORKLOADS = {w.name: w for w in (LlmText, MapReduceCorpus, StreamEvents)}
