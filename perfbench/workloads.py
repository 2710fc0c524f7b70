"""The three benchmark workloads.

Each is a single client in a closed loop: the next operation starts
when the previous one has returned and been checked.

* ``agg``: ``transform(passthrough=[doc_id, source, n_tok])`` ->
  ``aggregate_per_sink_salted`` -> collect over the seed's sequences.
  Nothing is written, so parse, enrich and aggregate dominate; it is the
  no-change control for write, runner, lineage and compaction changes.
* ``ingest``: ``run_pipeline`` into a fresh output directory over the
  same sequences as unit files, then ``compact_routed``.  The per-unit
  fixed cost, the partitioned write and the commits dominate.
* ``query``: round-robin over the headline catalog queries of
  ``bench.py`` on the seed's generated tables, in a seed-shuffled order
  per pass.  No pipeline code runs, so it is the control for pipeline
  changes.

Every result is checked: ``agg`` and ``ingest`` against the pandas
oracle, ``query`` against DuckDB at set-up and against the set-up
result on every pass.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time

from tracing import SPAN_COUNTERS

AGG_COLS = ["doc_id", "source", "n_tok"]
# untimed agg passes before measuring: the JIT keeps speeding the pass
# up for about this many passes after the session set-up
WARM_OPS = 5


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between samples."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def _pipeline_warm_job(spark, units: dict) -> None:
    """A small transform -> aggregate: boots the Python workers, the
    lookup broadcasts and the generated code the pipeline needs."""
    from sneller_spark.pipeline.aggregate import aggregate_per_sink_salted
    from sneller_spark.pipeline.runner import transform

    df = spark.read.parquet(units["files"][0]).limit(2000)
    aggregate_per_sink_salted(transform(spark, df, passthrough=AGG_COLS)).collect()


class Workload:
    """Hooks the runner calls, in order: ``warm_job`` once per session
    set-up, ``warm_up`` once, then ``op`` (untraced) or ``traced_round``
    (traced) until the run's time is up, then ``latencies``, ``named``
    and, when traced, ``layers``."""

    name = ""

    def __init__(self, run):
        self.run = run  # run.Run: spark, tracer, data dir, result counters
        self.op_times: list[float] = []

    def latencies(self) -> list[float]:
        """The operation times the end-to-end median is taken over."""
        return self.op_times

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        return self.run.record(self.name, what, ok, detail)


# ---------------------------------------------------------------------
# agg
# ---------------------------------------------------------------------


class Agg(Workload):
    name = "agg"

    def __init__(self, run, units: dict):
        super().__init__(run)
        from inputs import aggregate_key

        self.units = units
        self.expected = aggregate_key(units["expected"]["aggregates"])
        self.prefix_spans: dict[str, list] = {}  # layer -> spans of the traced rounds
        self.kernel_times: list[float] = []

    def warm_job(self, spark) -> None:
        _pipeline_warm_job(spark, self.units)

    def warm_up(self) -> None:
        self.df = self.run.spark.read.parquet(self.units["dir"])
        for _ in range(WARM_OPS):
            self.op()
        self.op_times.clear()

    def op(self):
        """One timed agg pass; returns its span, None if it raised."""
        from inputs import aggregate_key
        from sneller_spark.pipeline.aggregate import aggregate_per_sink_salted
        from sneller_spark.pipeline.runner import transform

        tr = self.run.tracer
        try:
            with tr.span("agg.op") as op:
                with tr.span("runner.transform"):
                    routed = transform(self.run.spark, self.df, passthrough=AGG_COLS)
                with tr.span("aggregate.collect"):
                    rows = aggregate_per_sink_salted(routed).collect()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.check("agg.op", False, repr(e))
            return None
        self.op_times.append(op.dur)
        got = aggregate_key(rows)
        self.check("agg.op", got == self.expected,
                   f"{len(got)} groups vs {len(self.expected)} expected")
        return op

    def traced_round(self) -> None:
        """One e2e op plus the cumulative prefixes, each to a noop sink:
        scan, +parse, +enrich, +route.  The +aggregate prefix is the op."""
        from sneller_spark.lookups import lookup_source_df
        from sneller_spark.pipeline.enrich import enrich_stage
        from sneller_spark.pipeline.parse import parse_stage_dict
        from sneller_spark.pipeline.runner import transform

        spark, df, tr = self.run.spark, self.df, self.run.tracer
        prefixes = {
            "scan": lambda: df.select(*AGG_COLS, "tokens"),
            "parse": lambda: parse_stage_dict(df, passthrough=AGG_COLS),
            "enrich": lambda: enrich_stage(parse_stage_dict(df, passthrough=AGG_COLS),
                                           lookup_source_df(spark)),
            "route": lambda: transform(spark, df, passthrough=AGG_COLS),
        }
        for layer, build in prefixes.items():
            with tr.span(f"prefix.{layer}") as s:
                build().write.format("noop").mode("overwrite").save()
            self.prefix_spans.setdefault(layer, []).append(s)
        op = self.op()
        if op is not None:
            self.prefix_spans.setdefault("aggregate", []).append(op)
        self.kernel_times.append(self._kernel_s())

    def _kernel_s(self) -> float:
        """``extract_fields_dict`` in-process, single thread, over the
        same files in Arrow batches of Spark's maxRecordsPerBatch."""
        import pyarrow.parquet as pq

        from sneller_spark.pipeline.parse import extract_fields_dict

        if not hasattr(self, "_batches"):
            self._batches = [
                b.column(0) for f in self.units["files"]
                for b in pq.ParquetFile(f).iter_batches(batch_size=65536, columns=["tokens"])
            ]
        t0 = time.monotonic()
        for tokens in self._batches:
            extract_fields_dict(tokens)
        return time.monotonic() - t0

    def named(self) -> dict:
        return {"agg_seq_per_s": (self.units["rows"] / statistics.median(self.op_times), "1/s")}

    def layers(self, groups: dict, executions: dict) -> dict:
        tr = self.run.tracer
        order = ["scan", "parse", "enrich", "route", "aggregate"]
        med = {k: statistics.median(s.dur for s in self.prefix_spans[k]) for k in order}
        # Spark counters per prefix (the span and its child spans),
        # averaged over the traced rounds
        counters: dict[str, dict[str, float]] = {}
        for layer in order:
            acc: dict[str, float] = {}
            spans = self.prefix_spans[layer]
            ids = {s.span_id for s in spans}
            ids |= {c.span_id for c in tr.spans if c.parent in ids}
            for sid in ids & groups.keys():
                for k, v in groups[sid].counters.items():
                    acc[k] = acc.get(k, 0.0) + v / len(spans)
            counters[layer] = acc
        out: dict[str, float] = {}
        prev_t, prev_c = 0.0, {}
        for layer in order:
            c = counters[layer]
            out[f"{layer}.s"] = med[layer] - prev_t
            for k in SPAN_COUNTERS:
                out[f"{layer}.{k}"] = c.get(k, 0.0) - prev_c.get(k, 0.0)
            if layer == "parse":
                for k in ("python_run_s", "python_boot_s", "python_sent_bytes",
                          "python_received_bytes"):
                    out[f"parse.{k}"] = c.get(k, 0.0) - prev_c.get(k, 0.0)
            prev_t, prev_c = med[layer], c
        out["scan.input_bytes"] = self.units["bytes"]
        out["parse.kernel_s"] = statistics.median(self.kernel_times)
        round_ops = {s.span_id for s in self.prefix_spans["aggregate"]}
        transform_spans = [s for s in tr.spans
                           if s.name == "runner.transform" and s.parent in round_ops]
        out["runner.transform_s"] = statistics.median(s.dur for s in transform_spans)
        out["runner.transform_jobs"] = statistics.median(
            groups[s.span_id].jobs if s.span_id in groups else 0 for s in transform_spans)
        return out


# ---------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------


def _parquet_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Ingest(Workload):
    name = "ingest"

    def __init__(self, run, units: dict):
        super().__init__(run)
        from inputs import aggregate_key

        self.units = units
        self.expected = aggregate_key(units["expected"]["aggregates"])
        self.expected_sinks = units["expected"]["routed_per_sink"]
        self.out_root = os.path.join(run.data_dir, "ingest-out")
        self.n = 0
        self.samples: list[dict] = []

    def warm_job(self, spark) -> None:
        _pipeline_warm_job(spark, self.units)

    def warm_up(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)
        self._ingest_op(traced=False)
        self.op_times.clear()
        self.samples.clear()

    def _ingest_op(self, traced: bool) -> None:
        from sneller_spark.pipeline.compact import compact_routed
        from sneller_spark.pipeline.lineage import LineageLog
        from sneller_spark.pipeline.runner import ROUTED_SUBDIR, read_aggregates, run_pipeline

        from inputs import aggregate_key

        spark, tr = self.run.spark, self.run.tracer
        self.n += 1
        out = os.path.join(self.out_root, f"op-{self.n}")
        routed = os.path.join(out, ROUTED_SUBDIR)
        sample: dict = {}
        try:
            with tr.span("ingest.op") as op:
                with tr.span("runner.run_pipeline") as rp:
                    stats = run_pipeline(spark, self.units["dir"], out)
                if traced:
                    sample["files_before"], sample["route_bytes"] = _parquet_files(routed)
                with tr.span("compact.compact_routed") as cp:
                    cstats = compact_routed(spark, out)
            if traced:
                with tr.span("lineage.read") as lr:
                    log = LineageLog(out)
                    manifests = log.committed_units()
                    log.total_stats()
                sample.update(
                    run_span=rp.span_id, compact_span=cp.span_id, run_s=rp.dur,
                    compact_s=cp.dur, lineage_s=lr.dur, manifests=len(manifests))
            sample["walls"] = []
            per_sink: dict[str, int] = {}
            log = LineageLog(out)
            for uid in log.committed_units():
                m = log.read_manifest(uid)
                sample["walls"].append((m.committed_at, m.wall_ms / 1e3))
                for k, v in m.per_sink_rows.items():
                    per_sink[k] = per_sink.get(k, 0) + v
            sample["files_after"], sample["stored_bytes"] = _parquet_files(routed)
            sample["compact_input_bytes"] = 0
            comp = os.path.join(out, "compaction")
            for fn in os.listdir(comp) if os.path.isdir(comp) else []:
                if fn.endswith(".json"):
                    with open(os.path.join(comp, fn)) as f:
                        sample["compact_input_bytes"] += json.load(f)["input_bytes"]
            aggs = aggregate_key(read_aggregates(spark, out).collect())
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.check("ingest.op", False, repr(e))
            shutil.rmtree(out, ignore_errors=True)
            return
        self.op_times.append(op.dur)
        self.samples.append(sample)
        rows = self.units["rows"]
        ok = (stats["rows_in"] == rows and cstats.get("rows") == rows
              and per_sink == self.expected_sinks and aggs == self.expected)
        self.check("ingest.op", ok,
                   f"rows_in={stats['rows_in']} packed={cstats.get('rows')} "
                   f"per_sink={per_sink} groups={len(aggs)}")
        shutil.rmtree(out, ignore_errors=True)

    def op(self) -> None:
        self._ingest_op(traced=False)

    def traced_round(self) -> None:
        self._ingest_op(traced=True)

    def named(self) -> dict:
        s = self.samples[-1]
        return {
            "ingest_seq_per_s": (self.units["rows"] / statistics.median(self.op_times), "1/s"),
            "stored_bytes_per_input_byte": (s["stored_bytes"] / self.units["bytes"], "ratio"),
        }

    def layers(self, groups: dict, executions: dict) -> dict:
        med = statistics.median
        unit_walls = [w for s in self.samples for _t, w in s["walls"]]
        out = {
            "runner.unit_p50_s": med(unit_walls),
            "runner.unit_max_s": max(unit_walls),
            "runner.final_aggregate_s": med(
                s["run_s"] - sum(w for _t, w in s["walls"]) for s in self.samples),
            "route.files": med(s["files_before"] for s in self.samples),
            "route.bytes": med(s["route_bytes"] for s in self.samples),
            "lineage.read_s": med(s["lineage_s"] for s in self.samples),
            "lineage.manifests": med(s["manifests"] for s in self.samples),
            "compact.s": med(s["compact_s"] for s in self.samples),
            "compact.bytes_rewritten": med(s["compact_input_bytes"] for s in self.samples),
            "compact.files_before": med(s["files_before"] for s in self.samples),
            "compact.files_after": med(s["files_after"] for s in self.samples),
            "ingest.stored_bytes_per_input_byte": med(
                s["stored_bytes"] / self.units["bytes"] for s in self.samples),
        }
        jobs_per_unit, write_s = [], []
        for s in self.samples:
            g = groups.get(s["run_span"])
            if g is None:
                continue
            windows = [(end - wall, end) for end, wall in s["walls"]]

            def in_unit(t: float) -> bool:
                return any(lo <= t <= hi for lo, hi in windows)

            jobs_per_unit.append(sum(in_unit(t) for t, _x in g.job_list) / len(windows))
            # the per-unit partitioned writes: SQL executions that insert
            # files and start inside a unit's window
            execs = {x for t, x in g.job_list if x is not None and in_unit(t)}
            write_s.append(sum(
                executions[x]["end"] - executions[x]["start"] for x in execs
                if x in executions and executions[x]["end"] is not None
                and "InsertIntoHadoopFsRelationCommand" in executions[x]["plan"]))
        out["runner.jobs_per_unit"] = med(jobs_per_unit) if jobs_per_unit else 0.0
        out["route.write_s"] = med(write_s) if write_s else 0.0
        for layer, key in (("runner", "run_span"), ("compact", "compact_span")):
            for k in SPAN_COUNTERS:
                vals = [groups[s[key]].counters[k] for s in self.samples if s[key] in groups]
                out[f"{layer}.{k}"] = med(vals) if vals else 0.0
        return out


# ---------------------------------------------------------------------
# query
# ---------------------------------------------------------------------


class Query(Workload):
    name = "query"

    def __init__(self, run, tables: dict, seed: int):
        super().__init__(run)
        from bench import HEADLINE_QUERIES

        self.tables = tables
        self.names = list(HEADLINE_QUERIES)
        self.rng = random.Random(seed)
        self.reference: dict[str, list] = {}
        self.pass_times: list[float] = []  # one per complete pass
        self.query_spans: list = []

    @staticmethod
    def _catalog():
        from sneller_spark import query_catalog_extra, query_catalog_ml  # noqa: F401
        from sneller_spark.query_catalog import CATALOG

        return CATALOG

    def warm_job(self, spark) -> None:
        self._catalog()["scan_project_filter"].fn(spark, self.tables["dir"]).toPandas()

    def warm_up(self) -> None:
        """The set-up check pass, which runs each query with an oracle
        against DuckDB and pins the rest to their result, then one untimed
        pass: the first pass after the check pass is still up to a third
        slower than the ones after it, the JIT still compiling."""
        self._check_pass()
        self._pass()
        self.op_times.clear()
        self.pass_times.clear()
        self.query_spans.clear()

    def _check_pass(self) -> None:
        import duckdb
        from check_correctness import _canon

        catalog = self._catalog()
        con = duckdb.connect()
        try:
            from inputs import QUERY_TABLES

            for t in QUERY_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.tables['dir']}/{t}.parquet')")
            for name in self.names:
                oracle = catalog[name].oracle
                try:
                    got = catalog[name].fn(self.run.spark, self.tables["dir"]).toPandas()
                    exp = None if oracle is None else con.sql(oracle).df()
                except Exception as e:  # noqa: BLE001 - reported, the run goes on
                    self.check(f"setup.{name}", False, repr(e))
                    continue
                if exp is None:
                    self.reference[name] = _canon(got)
                    self.check(f"setup.{name}", True)
                    continue
                self.reference[name] = _canon(exp)
                ok = (sorted(got.columns) == sorted(exp.columns)
                      and len(got) == len(exp) and _canon(got) == self.reference[name])
                self.check(f"setup.{name}", ok, f"{len(got)} rows vs {len(exp)} from duckdb")
        finally:
            con.close()

    def _pass(self) -> None:
        from check_correctness import _canon

        catalog, tr = self._catalog(), self.run.tracer
        order = list(self.names)
        self.rng.shuffle(order)
        complete = True
        for name in order:
            try:
                with tr.span(f"query.{name}") as s:
                    got = catalog[name].fn(self.run.spark, self.tables["dir"]).toPandas()
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                self.check(f"query.{name}", False, repr(e))
                complete = False
                continue
            self.op_times.append(s.dur)
            self.query_spans.append(s)
            ok = name in self.reference and _canon(got) == self.reference[name]
            self.check(f"query.{name}", ok, f"{len(got)} rows")
        if complete:
            self.pass_times.append(sum(s.dur for s in self.query_spans[-len(order):]))

    op = _pass
    traced_round = _pass

    def latencies(self) -> list[float]:
        """The times of the complete passes: the sum over every query, so
        a change to any of them moves the end-to-end median."""
        return self.pass_times

    def named(self) -> dict:
        return {
            "query_p50_s": (statistics.median(self.op_times), "s"),
            "query_p90_s": (p90(self.op_times), "s"),
            "query_samples": (len(self.op_times), "count"),
        }

    def layers(self, groups: dict, executions: dict) -> dict:
        out: dict[str, float] = {}
        for name in self.names:
            spans = [s for s in self.query_spans if s.name == f"query.{name}"]
            out[f"query.{name}.s"] = statistics.median(s.dur for s in spans) if spans else 0.0
            out[f"query.{name}.jobs"] = statistics.median(
                groups[s.span_id].jobs if s.span_id in groups else 0 for s in spans
            ) if spans else 0.0
        passes = max(1, len(self.query_spans) // max(1, len(self.names)))
        for k in SPAN_COUNTERS:
            out[f"query.{k}"] = sum(
                groups[s.span_id].counters[k] for s in self.query_spans
                if s.span_id in groups) / passes
        return out
