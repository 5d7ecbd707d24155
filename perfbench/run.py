#!/usr/bin/env python3
"""Benchmark runner for graft.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), makes the workload's
inputs from the seed, runs the workload in one JVM on local[nproc], checks
the outputs, and prints one JSON line last: every end-to-end metric of
BENCHMARK.json with --trace 0, every per-layer metric with --trace 1. A
traced run also reports the tracing overhead, the traced minus untraced
value of each end-to-end metric, against a stored untraced run from the same
environment (or one run after it, when none is stored and time allows). Workload parameters live in
perfbench/workloads.json; results and traces are kept under the build
directory's perfbench/results.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import cdcgen  # noqa: E402
import oracle  # noqa: E402

RUN_DEADLINE_S = 170
JVM_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def quantile(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def log(msg):
    print(msg, flush=True)


# -- cdc_ingest inputs --------------------------------------------------------

def write_lines(path, lines):
    tmp = path.parent / ("." + path.name + ".tmp")
    tmp.write_text("\n".join(lines) + "\n")
    os.rename(tmp, path)


def write_backlog(gen, directory, files, base_ms):
    directory.mkdir(parents=True)
    lines = gen.backlog(base_ms)
    per = -(-len(lines) // files)
    for i in range(files):
        chunk = lines[i * per:(i + 1) * per]
        if chunk:
            write_lines(directory / f"backlog-{i:03d}.json", chunk)
    return len(lines)


class SteadyWriter(threading.Thread):
    """Open-loop steady phase: after the JVM signals that the backlog is
    drained, writes one file per tick at its due time, whatever the state
    of the pipeline. Records each file's due time, write time and the rows
    that the sink should apply from it."""

    def __init__(self, gen, src, run_dir, seconds, tick_ms, trigger_ms, rows_per_tick, proc):
        super().__init__(daemon=True)
        self.gen, self.src, self.run_dir = gen, src, run_dir
        self.ticks = int(round(seconds * 1000 / tick_ms))
        self.tick_ms, self.trigger_ms = tick_ms, trigger_ms
        self.rows_per_tick, self.proc = rows_per_tick, proc
        self.files = []

    def run(self):
        signal = self.run_dir / "catchup.done"
        while not signal.exists():
            if self.proc.poll() is not None:
                return
            time.sleep(0.002)
        # start half a tick after the sink's next trigger time (processing-
        # time triggers fire on multiples of the interval since the epoch),
        # so every run splits the schedule into the same batches
        now = int(time.time() * 1000)
        t0 = (now // self.trigger_ms + 1) * self.trigger_ms + self.tick_ms // 2
        for k in range(self.ticks):
            due = t0 + k * self.tick_ms
            delay = due / 1000.0 - time.time()
            if delay > 0:
                time.sleep(delay)
            start = len(self.gen.lines)
            lines = self.gen.tick(due, self.rows_per_tick)
            name = f"tick-{k:05d}.json"
            write_lines(self.src / name, lines)
            written = time.time() * 1000
            kinds = self.gen.lines[start:]
            rows = sum(len(json.loads(t)["data"]) for t, kind in kinds if kind == "event")
            self.files.append({"name": name, "due_ms": due, "written_ms": written,
                               "rows": rows, "lines": len(lines)})
        write_lines(self.run_dir / "steady.done", [str(sum(f["lines"] for f in self.files))])


def file_batches(ckpt, batches):
    """File name -> the query batch that read it. The file source's metadata
    log numbers files by the source's own offsets, which skip the query's
    no-data batches, so each batch owns the offsets after its predecessor's
    end offset."""
    owner, prev = {}, -1
    for b in batches:
        for k in range(prev + 1, b["source_end"] + 1):
            owner[k] = b["batch"]
        prev = max(prev, b["source_end"])
    out = {}
    d = Path(ckpt) / "sources" / "0"
    for f in sorted(d.iterdir()) if d.is_dir() else []:
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines():
            if line.startswith("{"):
                e = json.loads(line)
                if e["batchId"] in owner:
                    out[e["path"].rsplit("/", 1)[-1]] = owner[e["batchId"]]
    return out


def read_state(state_dir):
    import pyarrow.parquet as pq
    state = {}
    if not Path(state_dir).is_dir():
        return state
    table = pq.read_table(state_dir, columns=["pk", "data"])
    for pk, data in zip(table.column("pk").to_pylist(), table.column("data").to_pylist()):
        state[pk] = dict(data)
    return state


def ingest_metrics(res, gen, writer, backlog_applied):
    """End-to-end and per-layer metrics of cdc_ingest, and its checks."""
    batches = sorted(res["batches"], key=lambda b: b["batch"])
    commit = {b["batch"]: b["start_ms"] + b["duration_ms"] for b in batches}
    steady_from = res["steady_from_batch"]
    catchup = [b for b in batches if b["batch"] < steady_from and b["input_rows"] > 0]
    catchup_s = (max(commit[b["batch"]] for b in catchup) - res["stream_start_ms"]) / 1000.0 \
        if catchup else 0.0
    drain_s = statistics.median(res["drains_s"])
    file_batch = file_batches(res["checkpoint"], batches)
    lags, events = [], []
    for f in writer.files:
        b = file_batch.get(f["name"])
        if b is None or b not in commit:
            continue
        lags.extend([commit[b] - f["due_ms"]] * f["rows"])
        events.append((f["written_ms"], f["rows"]))
        events.append((commit[b], -f["rows"]))
    backlog, backlog_max = 0, 0
    for _, d in sorted(events, key=lambda e: (e[0], e[1])):
        backlog += d
        backlog_max = max(backlog_max, backlog)
    steady = [b for b in batches if b["batch"] >= steady_from]
    nonempty = [b for b in steady if b["input_rows"] > 0]

    def dur(key):
        return quantile([b["durations_ms"].get(key, 0) for b in nonempty], 0.5)

    last = batches[-1] if batches else {}
    sink = res["sink_counters"]
    e2e = {"drain_s": drain_s,
           "latency_p50_ms": quantile(lags, 0.5),
           "latency_p95_ms": quantile(lags, 0.95)}
    layers = {
        "streaming.catchup_rows_per_s": backlog_applied / catchup_s if catchup_s else 0.0,
        "streaming.batches": len(steady),
        "streaming.empty_batches": len(steady) - len(nonempty),
        "streaming.rows_per_batch_p50": quantile([b["input_rows"] for b in nonempty], 0.5),
        "streaming.trigger_ms_p50": dur("triggerExecution"),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.latest_offset_ms_p50": dur("latestOffset"),
        "streaming.planning_ms_p50": dur("queryPlanning"),
        "streaming.wal_commit_ms_p50": dur("walCommit"),
        "streaming.commit_offsets_ms_p50": dur("commitOffsets"),
        "streaming.dedup_state_rows": last.get("state_rows", 0),
        "streaming.dedup_state_mb": last.get("state_bytes", 0) / 1048576.0,
        "streaming.late_rows_dropped": sum(b["dropped_by_watermark"] for b in batches),
        "streaming.backlog_rows_max": backlog_max,
        "streaming.sink_row_errors": sink.get("materialize.row_error", 0),
        "gen.rows_sent": gen.counts["event_rows"] + gen.counts["poison_rows"],
        "gen.redelivered": gen.counts["redelivery_lines"],
        "gen.invalid_sent": gen.counts["ddl_lines"] + gen.counts["malformed_lines"],
        "gen.late_ms_max": max([f["written_ms"] - f["due_ms"] for f in writer.files] or [0]),
    }
    expected, counts = cdcgen.oracle([t for t, _ in gen.lines])
    got = read_state(res["state_dir"])
    missing = len(set(expected) - set(got))
    extra = len(set(got) - set(expected))
    differ = sum(1 for k in set(expected) & set(got) if expected[k] != got[k])
    lines_in = sum(b["input_rows"] for b in batches)
    checks = {
        "batches": None if not res["errors"] and not sink.get("materialize.error") else
        f"batch errors: {res['errors'][:1]} sink errors {sink.get('materialize.error', 0)}",
        "input lines": None if lines_in == len(gen.lines) else
        f"read {lines_in} lines, generator wrote {len(gen.lines)}",
        "state digest": None if not (missing or extra or differ) else
        f"state vs oracle: {missing} missing, {extra} extra, {differ} differ "
        f"of {len(expected)} keys",
        "row errors": None if sink.get("materialize.row_error", 0) == counts["poison_rows"] else
        f"sink row_error {sink.get('materialize.row_error', 0)} vs "
        f"{counts['poison_rows']} poison rows sent",
        "steady schedule": None if writer.files and len(file_batch) > 0 else
        "the steady phase wrote nothing or the source log is empty",
    }
    notes = [f"lag samples {len(lags)} events over {len(nonempty)} non-empty batches; "
             f"generator late by at most {layers['gen.late_ms_max']:.1f} ms; "
             f"backlog at most {backlog_max} rows",
             f"catch-up {backlog_applied} rows in {catchup_s:.3f} s; drain catch-ups " +
             " ".join(f"{d:.3f}" for d in res["drains_s"]) + f" s, median {drain_s:.3f} s"]
    attempted = len(batches) + len(checks)
    failed = sum(1 for v in checks.values() if v)
    return e2e, layers, attempted, failed, checks, notes


# -- one run ------------------------------------------------------------------

def jvm_command(classes, cfg, run_dir):
    jars = build.spark_jars()
    return (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            [f"-Xmx{cfg['heap']}", "-XX:-UsePerfData"] + cfg["jvm_flags"] + [
             f"-Djava.io.tmpdir={run_dir / 'tmp'}",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{classes}{os.pathsep}{jars / '*'}",
             "graftbench.Main", str(run_dir / "job.json")])


def run_once(cfg, name, seed, seconds, trace, classes, deadline):
    wl = cfg["workloads"][name]
    run_dir = build.build_root() / "runs" / f"{name}-{seed}-{int(trace)}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    job = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
           "setup_rounds": wl["setup_rounds"]}
    gen = writer = None
    if name == "cdc_ingest":
        prime = cdcgen.Generator(seed * 7919 + 1, wl["prime_keys"], **wl["faults"])
        write_backlog(prime, run_dir / "prime", wl["backlog_files"], int(time.time() * 1000))
        gen = cdcgen.Generator(seed, wl["key_space"], **wl["faults"])
        base = int(time.time() * 1000) - 60_000
        prime_lines = len(prime.lines)
        backlog_lines = write_backlog(gen, run_dir / "src", wl["backlog_files"], base)
        backlog_applied = cdcgen.oracle([t for t, _ in gen.lines])[1]["rows"] - \
            gen.counts["poison_rows"]
        drain_gen = cdcgen.Generator(seed * 7919 + 2, wl["drain_keys"], **wl["faults"])
        drain_lines = write_backlog(drain_gen, run_dir / "drain", wl["drain_files"], base)
        drain_keys = len(cdcgen.oracle([t for t, _ in drain_gen.lines])[0])
        job.update(prime_dir=str(run_dir / "prime"), src_dir=str(run_dir / "src"),
                   drain_src_dir=str(run_dir / "drain"), drain_lines=drain_lines,
                   drain_rounds=wl["drain_rounds"], prime_lines=prime_lines,
                   backlog_lines=backlog_lines, trigger_ms=wl["trigger_ms"])
    else:
        job.update(entries=wl["entries"], warmup_passes=wl["warmup_passes"],
                   data_dir=str(HERE / cfg["data_dir"]))
    (run_dir / "job.json").write_text(json.dumps(job))
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    with open(run_dir / "jvm.log", "w") as jvm_log:
        proc = subprocess.Popen(jvm_command(classes, cfg, run_dir), cwd=run_dir, env=env,
                                stdout=jvm_log, stderr=subprocess.STDOUT)
        if gen is not None:
            rows_per_tick = int(round(wl["steady_rows_per_s"] * wl["tick_ms"] / 1000))
            writer = SteadyWriter(gen, run_dir / "src", run_dir, seconds, wl["tick_ms"],
                                  wl["trigger_ms"], rows_per_tick, proc)
            writer.start()
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        if writer is not None:
            writer.join(timeout=5)
    result_file = run_dir / "result.json"
    if proc.returncode != 0 or not result_file.exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        sys.stderr.write(tail)
        return None, f"benchmark JVM failed (exit {proc.returncode})"
    res = json.loads(result_file.read_text())
    out = {"stamp": res["stamp"], "layers": dict(res.get("layers", {})), "notes": []}
    e2e = {"setup_s": statistics.median(res["setup_rounds_s"]),
           "retained_heap_mb": res["retained_heap_mb"]}
    if name == "cdc_ingest":
        m, layers, attempted, failed, checks, notes = ingest_metrics(
            res, gen, writer, backlog_applied)
        wrong = [n for n in res["drain_state_rows"] if n != drain_keys]
        checks["drain catch-ups"] = None if not wrong else \
            f"state rows {wrong} after a drain catch-up, oracle {drain_keys}"
        attempted += 1
        failed += 1 if wrong else 0
        e2e.update(m)
        out["layers"].update(layers)
        out["notes"] += notes
    else:
        per_entry = {k: statistics.median(v) * 1000 for k, v in res["latencies_s"].items()}
        lat = list(per_entry.values())
        e2e.update(latency_p50_ms=quantile(lat, 0.5), latency_p95_ms=quantile(lat, 0.95),
                   drain_s=sum(lat) / 1000)
        sql = json.loads((run_dir / "oracle_sql.json").read_text())
        verdicts = oracle.check(HERE / cfg["data_dir"], res["out_dir"], sql, wl["entries"])
        checks = {f"oracle {k}": v for k, v in verdicts.items()}
        checks.update({f"error {i}": e for i, e in enumerate(res["errors"])})
        attempted = res["attempted"]
        failed = res["failed"] + sum(1 for v in verdicts.values() if v)
        runs = sum(len(v) for v in res["latencies_s"].values())
        out["notes"].append(f"{runs} timed entry runs over {len(res['pass_s'])} passes; "
                            f"passes {['%.3f' % p for p in res['pass_s']]} s")
        out["notes"].append("median ms per entry: " + ", ".join(
            f"{k} {v:.0f}" for k, v in sorted(per_entry.items())))
    out.update(e2e=e2e, attempted=attempted, failed=failed,
               checks={k: v for k, v in checks.items() if v},
               setup_rounds_s=res["setup_rounds_s"])
    if trace and (run_dir / "trace.jsonl").exists():
        out["trace_file"] = str(run_dir / "trace.jsonl")
    return out, run_dir


def baseline(results, workload, key, traced):
    """The untraced result to measure tracing overhead against: the same
    seed's if stored, else the latest of another seed, from the same
    environment stamp, benchmark configuration and run length."""
    def same(r):
        return all(r.get(k) == traced[k] for k in ("stamp", "config", "seconds"))
    own = results / f"{key}-t0.json"
    found = [own] if own.exists() else []
    found += sorted(results.glob(f"{workload}-s*-t0.json"), key=lambda f: -f.stat().st_mtime)
    for f in found:
        r = json.loads(f.read_text())
        if same(r):
            return r
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    cfg = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in cfg["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    classes = build.build()
    results = build.build_root() / "results"
    results.mkdir(parents=True, exist_ok=True)
    deadline = started + RUN_DEADLINE_S
    config = hashlib.sha256((HERE / "workloads.json").read_bytes() +
                            (build.build_root() / "classes.sha256").read_bytes()).hexdigest()
    key = f"{a.workload}-s{a.seed}"

    def run(trace, required=True):
        out, run_dir = run_once(cfg, a.workload, a.seed, a.seconds, trace, classes, deadline)
        if out is None:
            if not required:
                log(f"the untraced run for the overhead failed: {run_dir}")
                return None
            raise SystemExit(f"perfbench: {run_dir}")
        out.update(workload=a.workload, seed=a.seed, seconds=a.seconds, config=config)
        if out.get("trace_file"):
            shutil.copy(out.pop("trace_file"), results / f"{key}.trace.jsonl")
        shutil.rmtree(run_dir, ignore_errors=True)
        (results / f"{key}-t{int(trace)}.json").write_text(json.dumps(out, indent=1))
        return out

    if a.trace:
        t0 = time.time()
        out = run(True)
        base = baseline(results, a.workload, key, out)
        if base is None and time.time() + 1.2 * (time.time() - t0) < deadline:
            log("no untraced run of this workload in this environment; running one")
            base = run(False, required=False)
        if base is None:
            log("no untraced run to measure tracing overhead against; overhead metrics read 0")
        else:
            if base["seed"] != a.seed:
                log(f"tracing overhead measured against the untraced run of seed {base['seed']}")
            for m, v in out["e2e"].items():
                out["layers"][f"overhead.{m}"] = v - base["e2e"][m]
            (results / f"{key}-t1.json").write_text(json.dumps(out, indent=1))
    else:
        out = run(False)

    log("stamp " + json.dumps(out["stamp"], sort_keys=True))
    log("setup rounds " + " ".join("%.3f s" % x for x in out["setup_rounds_s"]))
    for n in out["notes"]:
        log(n)
    for k, v in sorted(out["checks"].items()):
        log(f"FAILED {k}: {v}")
    specs = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = out["layers"] if a.trace else out["e2e"]
    metrics = {}
    for spec in specs:
        v = float(source.get(spec["name"], 0.0))
        metrics[spec["name"]] = {"value": v, "unit": spec["unit"]}
        if not a.trace:
            log(f"{spec['name']} = {v:.4f} {spec['unit']}")
    print(json.dumps({"correct": out["failed"] == 0 and not out["checks"],
                      "attempted": out["attempted"], "failed": out["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
