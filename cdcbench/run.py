"""CDC micro-batch apply benchmark.

Drives the engine's streaming entry path the way the CLI's local default
runs it: a directory of JSON-lines files (one file per micro-batch) →
``sources.files.read_json_lines_stream`` → ``streaming.runner.
start_cdc_stream(available_now=True)`` → ``CdcPipeline.process_batch`` →
``ParquetTableSink`` (copy-on-write).  The load is a closed loop: one query
drains a pre-written backlog, each micro-batch starting when the previous
one commits.

Usage, from the repository root::

    python3 cdcbench/run.py --workload upsert_steady --seed 1 --seconds 8 --trace 0
    python3 cdcbench/run.py --workload all --seed 1

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` traces every second micro-batch of a
backlog of ``2n + 1`` and reports the per-layer metrics.  A correctness mismatch exits with code 1;
a checkout without the engine exits with code 2.  See BENCHMARK.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import noise  # noqa: E402

PKG = "cdc_data_lake_pyspark_spark"
WORK = ".cdcbench_work"
SETUP_REPS = 3


def _metric_units(root: str, kind: str) -> dict[str, str]:
    """Metric name → unit for ``kind`` ('end_to_end' | 'per_layer'), in the
    order BENCHMARK.json lists them."""
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _parse_args(argv):
    ap = argparse.ArgumentParser(description="CDC micro-batch apply benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _jvm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


class Bench:
    """One workload, one seed, one process."""

    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.spec = gen.WORKLOADS[args.workload]
        self.work = os.path.join(
            root, WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        )
        self.inputs = os.path.join(self.work, "inputs")
        self.log = []  # report lines printed before the result
        self.correct = False

    # -- environment --------------------------------------------------------

    def _environment(self) -> None:
        for d in ("tmp", "spark-local", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # every JVM started (launcher, Spark driver, javac) keeps its temporary
        # files inside the work directory and writes no perf-data file
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        # a fixed heap keeps peak RSS comparable across hosts with different
        # free memory (the session's default derives it from MemAvailable)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        import tempfile

        tempfile.tempdir = tmp
        sys.path.insert(0, self.root)

    def _session(self, traced: bool):
        from cdc_data_lake_pyspark_spark.session import build_session

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # initial heap = max heap: the heap is committed once instead of
            # grown by GC heuristics, so peak RSS repeats run to run
            "spark.driver.extraJavaOptions": "-Xlog:disable "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Dderby.system.home={self.work}",
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return build_session(app_name=f"cdcbench-{self.spec.name}", extra_conf=conf)

    # -- set-up -------------------------------------------------------------

    def _state(self, rep_dir: str) -> dict:
        from cdc_data_lake_pyspark_spark.apply import ParquetTableSink
        from cdc_data_lake_pyspark_spark.pipeline import CdcPipeline

        for d in ("source", "sink", "checkpoint"):
            os.makedirs(os.path.join(rep_dir, d), exist_ok=True)
        sink = ParquetTableSink(os.path.join(rep_dir, "sink"))
        pipeline = CdcPipeline(
            config=os.path.join(self.inputs, "tables.json"),
            sink=sink,
            cdc_format=self.spec.cdc_format,
        )
        return {"dir": rep_dir, "sink": sink, "pipeline": pipeline, "applied": []}

    def _preload(self, state: dict) -> None:
        """Base tables written through the sink, as a bootstrap job would."""
        from concurrent.futures import ThreadPoolExecutor

        from cdc_data_lake_pyspark_spark.schema import cast_timestamp_fields

        cfgs = state["pipeline"].config
        jspark = self.spark._jsparkSession

        def load(b):
            self.spark._jvm.SparkSession.setActiveSession(jspark)
            cfg = cfgs.get(self.manifest["db"], b["table"])
            df = self.spark.read.parquet(os.path.join(self.inputs, b["file"]))
            df = cast_timestamp_fields(df, cfg.timestamp_fields)
            state["sink"].create_if_not_exists(cfg, df.schema)
            state["sink"].append(cfg, df)

        base = [b for b in self.manifest["base"] if b["rows"]]
        with ThreadPoolExecutor(max_workers=8) as pool:
            for f in [pool.submit(load, b) for b in base]:
                f.result()

    def _stream(self, state: dict, phase: str) -> dict:
        """Drain the phase's batch files with one availableNow query."""
        from cdc_data_lake_pyspark_spark.sources.files import read_json_lines_stream
        from cdc_data_lake_pyspark_spark.streaming.runner import start_cdc_stream

        batches = [b for b in self.manifest["batches"] if b["phase"] == phase]
        src = os.path.join(state["dir"], "source")
        for b in batches:
            dst = os.path.join(src, os.path.basename(b["file"]))
            os.link(os.path.join(self.inputs, b["file"]), dst)
            # the file source orders a backlog by modification time
            stamp = 1_700_000_000 + b["index"]
            os.utime(dst, (stamp, stamp))
        cpu0 = _jvm_cpu_s(self.jvm_pid) + time.process_time()
        t0 = time.perf_counter()
        query = start_cdc_stream(
            source=read_json_lines_stream(self.spark, src, max_files_per_trigger=1),
            pipeline=state["pipeline"],
            checkpoint_location=os.path.join(state["dir"], "checkpoint"),
            query_name=f"cdcbench_{phase}",
            available_now=True,
        )
        error = None
        try:
            query.awaitTermination()
        except Exception as exc:  # a failed batch ends the query
            error = repr(exc)
        wall = time.perf_counter() - t0
        cpu = _jvm_cpu_s(self.jvm_pid) + time.process_time() - cpu0
        # a failed micro-batch ends the query without a progress entry
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        done = min(len(progress), len(batches))
        state["applied"].extend(b["file"] for b in batches[:done])
        trig = {p.batchId: p.durationMs["triggerExecution"] / 1000.0 for p in progress[:done]}
        events = sum(b["events"] for b in batches[:done])
        if error is None and len(progress) != len(batches):
            error = f"{len(progress)} micro-batches for {len(batches)} backlog files"
        return {
            "phase": phase,
            "attempted": len(batches),
            "failed": len(batches) - done,
            "error": error,
            "wall_s": wall,
            "cpu_s": cpu,
            "events": events,
            "batch_s": list(trig.values()),
            "trigger_by_batch": trig,
            "events_by_batch": {
                p.batchId: b["events"] for p, b in zip(progress[:done], batches[:done])
            },
        }

    def _setup_rep(self, r: int) -> tuple[dict, float]:
        t0 = time.perf_counter()
        state = self._state(os.path.join(self.work, f"rep{r}"))
        self._preload(state)
        return state, time.perf_counter() - t0

    # -- run ----------------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        self._environment()
        noise_before = noise.probe()
        cpu_at_start = time.process_time()
        t0 = time.perf_counter()
        self.spark = self._session(traced=bool(args.trace))
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        session_s = time.perf_counter() - t0
        n = gen.measured_batches(self.spec, args.seconds)
        # traced runs trace every second micro-batch of a backlog that starts
        # and ends untraced, so both kinds see the same JVM warm-up on average
        phases = [("warmup", self.spec.warmup_batches), ("measure", 2 * n + 1 if args.trace else n)]
        t0 = time.perf_counter()
        self.manifest = gen.generate(self.spec, args.seed, self.inputs, phases)
        gen_s = time.perf_counter() - t0
        reps = []
        state = None
        for r in range(SETUP_REPS):
            if state is not None:
                shutil.rmtree(state["dir"], ignore_errors=True)
            state, rep_s = self._setup_rep(r)
            reps.append(rep_s)
        warm = self._stream(state, "warmup")
        if warm["failed"]:
            raise RuntimeError(f"warm-up failed: {warm['error']}")
        setup_s = session_s + gen_s + statistics.median(reps) + warm["wall_s"]
        self.log.append(
            f"setup: session {session_s:.2f}s, generate {gen_s:.2f}s, "
            f"preload reps {', '.join(f'{x:.2f}' for x in reps)} s, "
            f"warm-up {warm['wall_s']:.2f}s"
        )
        tracer = None
        if args.trace:
            import spans

            tracer = spans.Tracer(self.spark.sparkContext)
            uninstall = spans.install(tracer, state["pipeline"])
            try:
                measured = self._stream(state, "measure")
            finally:
                uninstall()
        else:
            measured = self._stream(state, "measure")
        peak_rss_mb = _jvm_hwm_mb(self.jvm_pid)
        process_cpu_s = _jvm_cpu_s(self.jvm_pid) + time.process_time()
        self._stop_session()
        attempted, failed = measured["attempted"], measured["failed"]
        if measured["error"]:
            self.log.append(f"measure: {measured['error']}")

        import check

        verdict = check.verify(self.inputs, self.manifest, state["applied"], os.path.join(state["dir"], "sink"))
        caught = verdict["self_test_caught"]
        for t in verdict["tables"]:
            if not t["ok"]:
                self.log.append(f"MISMATCH {t}")
        self.log.append(
            f"correctness: {len(verdict['tables'])} tables vs DuckDB fold "
            f"{'match' if verdict['ok'] else 'MISMATCH'}; corrupted-row self-test "
            f"{'caught' if caught else 'NOT caught'}"
        )
        correct = verdict["ok"] and caught and failed == 0 and not measured["error"]

        batch_s = measured["batch_s"]
        metrics = {
            "events_per_s": measured["events"] / sum(batch_s) if batch_s else 0.0,
            "batch_s_p50": statistics.median(batch_s) if batch_s else 0.0,
            "cpu_us_per_event": measured["cpu_s"] / measured["events"] * 1e6
            if measured["events"] else 0.0,
            "peak_rss_mb": peak_rss_mb,
            "setup_s": setup_s,
        }
        self.log.append(
            f"measured: {len(batch_s)} batches, {measured['events']} events, "
            f"batch_s {', '.join(f'{x:.3f}' for x in batch_s)}; "
            f"failed_batch_ratio {failed / attempted if attempted else 0:.3f}"
        )
        dedup = [b["distinct_keys"] / b["events"] for b in self.manifest["batches"] if b["events"]]
        self.log.append(f"dedup: distinct keys / events per batch, median {statistics.median(dedup):.3f}")
        report = {
            "workload": self.spec.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "end_to_end": metrics,
            "measured": measured,
            "setup": {"session_s": session_s, "generate_s": gen_s, "preload_reps_s": reps,
                      "warmup_s": warm["wall_s"]},
            "correctness": verdict,
        }
        if tracer is not None and not failed:
            report["trace"] = self._trace_report(tracer, measured)
            units = _metric_units(self.root, "per_layer")
            out = {k: report["trace"]["metrics"][k] for k in units}
        else:
            units = _metric_units(self.root, "end_to_end")
            out = {k: metrics[k] for k in units}
        report["noise"] = {
            "before": noise_before,
            "after": noise.probe(),
            "process_cpu_s": {"at_start": cpu_at_start, "measured": measured["cpu_s"],
                              "at_end": process_cpu_s},
        }
        self.log.append(
            "noise: steal-probe cpu/wall before {:.2f}, after {:.2f} (1.00 = no steal)".format(
                report["noise"]["before"]["cpu_over_wall"], report["noise"]["after"]["cpu_over_wall"]
            )
        )
        self._write_report(report)
        self.correct = bool(correct)
        return {
            "correct": bool(correct),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in out.items()},
        }

    def _trace_report(self, tracer, measured: dict) -> dict:
        import spans

        log = spans.read_event_log(os.path.join(self.work, "eventlog"))
        trig, events = measured["trigger_by_batch"], measured["events_by_batch"]
        batches = spans.batch_report(tracer.spans, log, trig, events)
        metrics = spans.median_metrics(batches)
        traced_ids = {b["batch"] for b in batches}
        eps = {b: events[b] / t for b, t in trig.items()}
        on = statistics.median(v for b, v in eps.items() if b in traced_ids)
        off = statistics.median(v for b, v in eps.items() if b not in traced_ids)
        metrics["trace.overhead_ratio"] = on / off
        for b in batches:
            self.log.append(spans.format_table(b))
        cov = [b["metrics"]["trace.coverage"] for b in batches]
        self.log.append(
            f"trace: {len(batches)} batches, min coverage {min(cov):.1%}, "
            f"overhead ratio {metrics['trace.overhead_ratio']:.3f}"
        )
        return {"batches": batches, "metrics": metrics, "min_coverage": min(cov)}

    def _stop_session(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def _write_report(self, report: dict) -> None:
        reports = os.path.join(self.root, WORK, "reports")
        os.makedirs(reports, exist_ok=True)
        name = f"{self.spec.name}-seed{self.args.seed}-trace{self.args.trace}.json"
        with open(os.path.join(reports, name), "w", encoding="utf-8") as fh:
            json.dump(report, fh, indent=1, default=str)
        self.log.append(f"report: {os.path.join(WORK, 'reports', name)}")

    def cleanup(self) -> None:
        """Delete the work directory unless the run found a mismatch, so
        its inputs and sink tables stay for inspection."""
        if self.correct:
            shutil.rmtree(self.work, ignore_errors=True)
        else:
            print(f"work files kept in {self.work}", file=sys.stderr)


def run_all(args) -> int:
    """Every workload in its own process; one metrics table."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in sorted(gen.WORKLOADS):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"[{w}] {line}")
        res = json.loads(lines[-1]) if lines else {"correct": False, "attempted": 1,
                                                  "failed": 1, "metrics": {}}
        merged["correct"] &= bool(res["correct"]) and proc.returncode == 0
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{w}.{k}"] = v
    width = max(len(k) for k in merged["metrics"]) if merged["metrics"] else 10
    for k, v in merged["metrics"].items():
        print(f"{k:<{width}}  {v['value']:>14.4f} {v['unit']}")
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


def main(argv=None) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "pipeline.py")):
        print(f"cdcbench: no {PKG}/ under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    bench = Bench(args, root)
    try:
        result = bench.run()
    except Exception:
        for line in bench.log:
            print(line, file=sys.stderr)
        raise
    finally:
        bench.cleanup()
    for line in bench.log:
        print(line)
    for k, v in result["metrics"].items():
        print(f"{k:<30} {v['value']:>14.4f} {v['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
