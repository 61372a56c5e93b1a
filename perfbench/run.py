#!/usr/bin/env python3
"""graft's benchmark: one command, two workloads, end to end and per layer.

    python3 perfbench/run.py --workload battery|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the engine
(the repository's sources plus the harness in perfbench/engine) with
sbt; later runs reuse the build while the sources are unchanged. The
engine runs in its own JVM on perfbench/data/sf0.1; inputs are made from
the seed; answers are checked against DuckDB. Human-readable lines and a
full report (every metric with unit and sample count, nproc, loadavg)
precede the last line, which is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
of BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(HERE, "engine")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
from stats import exec_totals, median, pct, self_times  # noqa: E402

# Fixed by the benchmark, the same on every commit.
HEAP = "2g"  # -Xms = -Xmx, so that peak RSS does not follow heap growth
PASS_S = 5  # battery: one timed pass per 5 s of --seconds
PARTITIONS = 4  # Kafka partitions of the ingest topic (key mod 4)
# ingest phase B's broker requests per second: half the broker's
# closed-loop capacity on an idle engine (about 10 requests/s from 4
# clients on 4 cores, median of 20 runs of 10 s)
READ_RATE = 5


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# --- build ----------------------------------------------------------------

def _sources_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(ENGINE, "src"), os.path.join(ENGINE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ENGINE, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Build the engine unless a build of the same sources exists; return
    the JVM launch prefix (java, options, classpath)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no graft sources (build.sbt, src/main/scala) under {ROOT}")
    launcher = os.path.join(ENGINE, "target", "launcher.txt")
    stamp = os.path.join(ENGINE, "target", "sources.sha256")
    digest = _sources_digest()
    fresh = (os.path.isfile(launcher) and os.path.isfile(stamp)
             and open(stamp).read() == digest)
    if not fresh:
        if shutil.which("sbt") is None:
            die("sbt is not on PATH")
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.isfile(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        os.makedirs(WORK, exist_ok=True)
        blog = os.path.join(WORK, "build.log")
        log(f"building the engine (log: {os.path.relpath(blog, ROOT)})")
        with open(blog, "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "harness/compile", "harness/writeLauncher"],
                cwd=ENGINE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840).returncode
        if rc != 0 or not os.path.isfile(launcher):
            die(f"engine build failed (rc={rc}); see {blog}")
        with open(stamp, "w") as f:
            f.write(digest)
    with open(launcher) as f:
        lines = f.read().splitlines()
    opts = [o for o in lines[:-1] if not o.startswith(("-Xmx", "-Xms"))]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java] + opts, lines[-1]


# --- engine process -------------------------------------------------------

class Engine:
    """The engine JVM. Stdout carries `@@` protocol lines only."""
    wall = {}  # start/end of the last engine process, for the report

    def __init__(self, launch, workload, run_dir, passes, trace, data):
        Engine.wall = {"start": time.monotonic()}
        (prefix, cp) = launch
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        self.out = os.path.join(run_dir, "engine.json")
        cmd = prefix + [
            f"-Xms{HEAP}", f"-Xmx{HEAP}",
            # temp files inside the run directory; no hsperfdata in /tmp
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-cp", cp,
            "graftbench.Main", "--workload", workload,
            "--data", data,
            "--inputs", os.path.join(run_dir, "inputs"), "--out", self.out,
            "--passes", str(passes), "--trace", "1" if trace else "0",
            "--cpus", str(nproc()),
            "--work", run_dir]
        self.log_path = os.path.join(run_dir, "engine.log")
        self.proc = subprocess.Popen(
            cmd, cwd=run_dir, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=open(self.log_path, "w"), text=True, bufsize=1)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            if line.startswith("@@"):
                self.lines.put(line[2:].strip())
        self.lines.put(None)

    def result(self, timeout):
        try:
            line = self.lines.get(timeout=timeout)
        except queue.Empty:
            line = None
        if line != "done":
            self.kill()
            raise RuntimeError(f"engine: expected 'done', got {line!r}; "
                               f"see {self.log_path}")
        self.proc.wait(timeout=60)
        Engine.wall["end"] = time.monotonic()
        with open(self.out) as f:
            return json.load(f)

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


# --- per-layer helpers ----------------------------------------------------

def _probe_layer(res, tr):
    """sql.facade_ms and sql.broker_other_ms from the facade probe: the
    facade call minus its Catalyst analysis and the jobs it ran, and the
    broker call minus the facade and collect calls on the same text (near
    zero, and negative when below the noise of the three calls)."""
    by = {}
    for s in tr["spans"]:
        by.setdefault(s["req"], {})[s["name"]] = s
    jobs = tr["jobs"]
    facade, other = [], []
    for p in res["probe"]:
        sp = by.get(p["req"], {})
        if not {"sql.facade", "exec.collect", "sql.broker"} <= sp.keys():
            continue
        f = sp["sql.facade"]
        job_ms = sum(j["end"] - j["start"] for j in jobs
                     if j["group"] == p["req"] and f["start"] <= j["start"] <= f["end"])
        f_ms = f["end"] - f["start"]
        facade.append(max(0.0, f_ms - p["analysis_ms"] - job_ms))
        c = sp["exec.collect"]
        b = sp["sql.broker"]
        other.append((b["end"] - b["start"]) - f_ms - (c["end"] - c["start"]))
    return {"sql.facade_ms": (median(facade), "ms", len(facade)),
            "sql.broker_other_ms": (median(other), "ms", len(other))}


def _exec_layer(tr, keep, ops, result_rows):
    """The per-layer metrics every workload reports, per operation."""
    t = exec_totals(tr["jobs"], tr["execs"], keep)
    ops = max(ops, 1)
    out = {}
    for k in ("analysis", "optimization", "planning"):
        out[f"catalyst.{k}_ms"] = (t[f"{k}_ms"] / ops, "ms", ops)
    units = {"jobs": "count", "stages": "count", "tasks": "count", "ms": "ms",
             "task_run_ms": "ms", "task_wait_ms": "ms", "gc_ms": "ms",
             "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
             "spill_bytes": "bytes", "scan_rows": "rows"}
    for k, u in units.items():
        out[f"exec.{k}"] = (t[k] / ops, u, ops)
    out["exec.scan_rows_per_result_row"] = (
        t["scan_rows"] / max(result_rows, 1), "ratio", ops)
    return out


# --- battery --------------------------------------------------------------

FAMILIES = [("exprminmax", ("q_agg_exprminmax",)), ("agg", ("q_agg_",)),
            ("ann", ("q_ann_",)), ("dedup_text", ("q_dedup_", "q_text_", "q_corpus")),
            ("join", ("q_join_",)), ("win", ("q_win_",)), ("fn", ("q_fn_",)),
            ("ts", ("q_ts_",))]


def family(name):
    for fam, prefixes in FAMILIES:
        if name.startswith(prefixes):
            return fam
    return "other"


def run_battery(launch, run_dir, seed, seconds, trace, cfg):
    with open(os.path.join(HERE, "battery.json")) as f:
        lists = json.load(f)
    timed, small = lists["timed"], set(lists["small"])
    inputs = os.path.join(run_dir, "inputs")
    gen.write_battery(inputs, seed, timed)
    data = os.path.join(HERE, "data", cfg["data"])
    passes = max(2, round(seconds / PASS_S))
    loads = {"start": loadavg()}
    eng = Engine(launch, "battery", run_dir, passes, trace, data)
    try:
        res = eng.result(900)
    finally:
        eng.kill()
    loads["end"] = loadavg()

    registered = set(res["registered"])
    missing = sorted(set(lists["expected"]) - registered)
    unexpected = sorted(registered - set(lists["expected"]))
    log(f"battery: {len(lists['expected'])} queries expected in the registry, "
        f"{len(registered)} registered; {len(missing)} skipped (missing): "
        f"{', '.join(missing) or '-'}")
    if unexpected:
        log(f"battery: registered but not in the frozen list: {', '.join(unexpected)}")

    failures = {n: f"failed: {m}" for n, m in res["failures"].items()}
    con = oracle.connect(data)
    for n in timed:
        if n in failures:
            continue
        counts = set(res["rows"].get(n, []))
        if len(counts) > 1:
            failures[n] = f"row count differs between passes: {sorted(counts)}"
            continue
        why = oracle.check_battery(con, n, os.path.join(run_dir, "results"),
                                   res["oracle"].get(n))
        if why:
            failures[n] = why
    con.close()

    # per query: the fastest of its timed passes, as graft.Bench takes it
    per_q = {n: min(ts) for n, ts in res["times"].items()
             if n not in failures and ts}
    passes = res["passes"]
    traced = [p for p in passes if p["traced"]]
    total_s = sum(per_q.values())
    small_s = sum(t for n, t in per_q.items() if n in small)
    per_q_ms = [t * 1000 for t in per_q.values()]
    m = {
        "p50_ms": (pct(per_q_ms, 50), "ms", len(per_q)),
        "p90_ms": (pct(per_q_ms, 90), "ms", len(per_q)),
        "rate_per_s": (len(per_q) / total_s if total_s else None, "1/s", len(per_q)),
        "aux_ms": (small_s * 1000, "ms", sum(1 for n in per_q if n in small)),
    }
    named = {"battery.total_s": (total_s, "s", len(per_q)),
             "battery.small_s": (small_s, "s", len(small)),
             "battery.skipped": (len(missing), "count", len(lists["expected"]))}
    layer = {"loadgen.sent": (len(timed) * len(passes), "count", len(passes))}
    detail = {"battery.missing": missing, "battery.per_query_s": per_q,
              "battery.pass_s": [(p["end"] - p["start"]) / 1000 for p in passes]}
    fam = {}
    for n, t in per_q.items():
        fam[family(n)] = fam.get(family(n), 0.0) + t
    for f_, t in sorted(fam.items()):
        named[f"exec.family.{f_}_s"] = (t, "s", sum(1 for n in per_q if family(n) == f_))
    if trace:
        tr = res["trace"]
        rows = sum(r[-1] for r in res["rows"].values() if r) * len(traced)
        layer.update(_exec_layer(tr, lambda j: j["group"].startswith("battery-"),
                                 len(timed) * len(traced), rows))
        spans = tr["spans"]
        builds = [s for s in spans if s["name"] == "queries.build"]
        jobs = tr["jobs"]
        bjobs = [sum(1 for j in jobs if j["group"] == f"battery-{s['req']}"
                     and s["start"] <= j["start"] <= s["end"]) for s in builds]
        layer["queries.build_ms"] = (
            median([s["end"] - s["start"] for s in builds]), "ms", len(builds))
        layer["queries.build_jobs"] = (
            sum(bjobs) / max(len(builds), 1), "count", len(builds))
        # mean traced pass minus mean untraced pass of the same run
        untraced = [p for p in passes if not p["traced"]]
        dur = lambda ps: statistics.mean(p["end"] - p["start"] for p in ps)  # noqa: E731
        layer["trace.overhead_ms"] = (dur(traced) - dur(untraced), "ms", len(passes))
        detail["self_ms"] = self_times(spans)
    return (m, named, layer, detail, res, len(timed), len(failures),
            [f"{n}: {w}" for n, w in sorted(failures.items())], loads)


# --- ingest ---------------------------------------------------------------

def _offsets(js):
    return {int(k): int(v) for k, v in json.loads(js).items()} if js else {}


def _check_requests(con, reads, reqs):
    """Mark each broker response ok or not; return failures and error
    counts by errorCode. Reads of the upsert view change while the stream
    runs, so only their errors are checked."""
    failures, errors, seen = [], {}, {}
    for r in reads:
        req = reqs[r["i"] % len(reqs)]
        why = None
        if r["status"] != 200:
            why = f"HTTP {r['status']}: {r['body'][:120]}"
        else:
            body = json.loads(r["body"])
            r["time_used_ms"] = body.get("timeUsedMs", 0)
            r["rows"] = body.get("numRowsResultSet", 0)
            if body.get("exceptions"):
                code = str(body["exceptions"][0].get("errorCode"))
                errors[code] = errors.get(code, 0) + 1
                why = f"error {code}: {body['exceptions'][0].get('message', '')[:120]}"
            elif req["twin"]:
                rows = body["resultTable"]["rows"]
                key = (req["twin"], json.dumps(rows))
                if key not in seen:
                    seen[key] = oracle.check_serve(con, req, rows)
                why = seen[key]
        r["ok"] = why is None
        if why:
            failures.append(f"{req['template']}: {why} [{req['sql'][:160]}]")
    return failures, errors


def run_ingest(launch, run_dir, seed, seconds, trace, cfg):
    n_b = int(cfg["rate"] * seconds) + 1
    inputs = os.path.join(run_dir, "inputs")
    data = os.path.join(HERE, "data", cfg["data"])
    events, reqs = gen.write_ingest(inputs, seed, cfg["backlog"] + n_b,
                                    int(READ_RATE * seconds) + nproc(), cfg["probe"])
    with open(os.path.join(inputs, "params.txt"), "w") as f:
        for k, v in (("backlog", cfg["backlog"]), ("rate", cfg["rate"]),
                     ("read_rate", READ_RATE), ("partitions", PARTITIONS),
                     ("clients", nproc()), ("phase_b_s", seconds)):
            f.write(f"{k}={v}\n")
    loads = {"start": loadavg()}
    eng = Engine(launch, "ingest", run_dir, 0, trace, data)
    try:
        res = eng.result(600)
    finally:
        eng.kill()
    loads["end"] = loadavg()

    produced = res["produced_total"]
    con = oracle.connect(data)
    failures, errors = _check_requests(con, res["reads"], reqs)
    con.close()
    # each read is one operation, and so is each key of the final store
    keys, wrong_keys, why = oracle.check_store(
        os.path.join(run_dir, "results", "store"), events[:produced])
    failed = len(failures) + wrong_keys
    if why:
        failures.append(f"store: {why}")

    # freshness: an event is visible when the batch whose offset range
    # holds it commits (trigger start + triggerExecution)
    due = {(p, off): t for p, off, t in res["produced"]}
    fresh, prev = [], {}
    batches = sorted(res["progress"], key=lambda b: b["batch"])
    for b in batches:
        end = _offsets(b["end_offset"])
        for p, hi in end.items():
            for off in range(prev.get(p, 0), hi):
                t = due.get((p, off))
                if t is not None:
                    fresh.append(b["end"] - t)
        prev = end
    a = res["phase_a"]
    catchup = a["rows"] / ((a["end"] - a["start"]) / 1000)
    ok = [r for r in res["reads"] if r["ok"]]
    lat = [r["end"] - r["due"] for r in ok]
    late = [r["start"] - r["due"] for r in res["reads"]]
    wait = [r["end"] - r["start"] - r["time_used_ms"] for r in ok]
    m = {
        "p50_ms": (pct(fresh, 50), "ms", len(fresh)),
        "p90_ms": (pct(fresh, 90), "ms", len(fresh)),
        "rate_per_s": (catchup, "1/s", a["rows"]),
        "aux_ms": (pct(lat, 50), "ms", len(lat)),
    }
    named = {
        "ingest.catchup_rows_per_s": m["rate_per_s"],
        "ingest.fresh_p50_ms": m["p50_ms"], "ingest.fresh_p90_ms": m["p90_ms"],
        "ingest.fresh_p95_ms": (pct(fresh, 95), "ms", len(fresh)),
        "serve.p50_ms": m["aux_ms"],
        "serve.p90_ms": (pct(lat, 90), "ms", len(lat)),
        "serve.p95_ms": (pct(lat, 95), "ms", len(lat)),
    }
    used = {}
    for r in ok:
        used.setdefault(reqs[r["i"] % len(reqs)]["template"], []).append(r["time_used_ms"])
    # streaming layer, from the StreamingQueryListener's progress events
    b_batches = [b for b in batches if b["rows"] > 0]
    dur = lambda k: [b["durations"].get(k, 0) for b in b_batches]  # noqa: E731
    rows_b = [b["rows"] for b in b_batches]
    store, keys_seen, merged = [], set(), 0
    # store rows before each batch = distinct keys consumed so far; rows
    # merged per batch = store before + batch rows
    by_part = {}
    for i in range(produced):
        by_part.setdefault(events[i][0] % PARTITIONS, []).append(i)
    prev = {}
    for b in batches:
        end = _offsets(b["end_offset"])
        before = len(keys_seen)
        n_in = 0
        for p, hi in end.items():
            for off in range(prev.get(p, 0), hi):
                keys_seen.add(events[by_part[p][off]][0])
                n_in += 1
        if n_in:
            merged += before + n_in
            store.append(len(keys_seen))
        prev = end
    end_b = _offsets(res["last_progress_offset_at_b_end"])
    backlog_end = sum(v - end_b.get(int(p), 0) for p, v in res["end_offsets_at_b_end"].items())
    fetch = [x + y for x, y in zip(dur("latestOffset"), dur("getBatch"))]
    layer = {
        "streaming.batches": (len(b_batches), "count", len(b_batches)),
        "streaming.batch_p50_ms": (pct(dur("triggerExecution"), 50), "ms", len(b_batches)),
        "streaming.batch_p95_ms": (pct(dur("triggerExecution"), 95), "ms", len(b_batches)),
        "streaming.addbatch_ms": (median(dur("addBatch")), "ms", len(b_batches)),
        "streaming.fetch_ms": (median(fetch), "ms", len(b_batches)),
        "streaming.rows_per_batch": (median(rows_b), "rows", len(b_batches)),
        "streaming.store_rows": (store[-1] if store else 0, "rows", len(store)),
        "streaming.rewrite_ratio": (merged / max(produced, 1), "ratio", len(store)),
        "streaming.backlog_end": (backlog_end, "records", 1),
        "sql.gateway_wait_ms": (pct(wait, 50), "ms", len(wait)),
        "sql.errors": (sum(errors.values()), "count", len(res["reads"])),
        "loadgen.late_p95_ms": (pct(late, 95), "ms", len(late)),
        "loadgen.sent": (produced + len(res["reads"]), "count", 1),
    }
    detail = {"sql.errors_by_code": errors,
              "time_used_ms_p50_by_template": {t: pct(v, 50) for t, v in used.items()}}
    if trace:
        tr = res["trace"]
        rows = sum(r["rows"] for r in ok)
        layer.update(_exec_layer(tr, lambda j: not j["group"].startswith("probe-"),
                                 len(b_batches) + len(res["reads"]), rows))
        layer.update(_probe_layer(res, tr))
        detail["self_ms"] = self_times(tr["spans"])
    attempted = keys + len(res["reads"])
    return m, named, layer, detail, res, attempted, failed, failures, loads


# --- main -----------------------------------------------------------------

RUNNERS = {"battery": run_battery, "ingest": run_ingest}


def main():
    # a terminated run still stops its engine (the `finally` blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--config", default=os.path.join(HERE, "config.json"))
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        die(f"{bench_file} is missing")
    with open(bench_file) as f:
        bench = json.load(f)
    with open(args.config) as f:
        cfg = json.load(f)
    launch = ensure_built()

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "inputs"))
    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} nproc={nproc()} loadavg={loadavg()}")
    t0 = time.monotonic()
    m, named, layer, detail, res, attempted, failed, failures, loads = \
        RUNNERS[args.workload](launch, run_dir, args.seed, args.seconds,
                               bool(args.trace), cfg)
    m["setup_s"] = (res["setup_s"], "s", 1)
    m["mem_peak_mb"] = (res["rss_peak_mb"], "MB", 1)
    layer["jvm.gc_ms"] = (float(res["gc_ms_run"]), "ms", 1)
    layer["jvm.heap_peak_mb"] = (res["heap_peak_mb"], "MB", 1)
    for f_ in failures[:40]:
        log(f"FAILED {f_}")
    fail_frac = failed / attempted if attempted else 1.0

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc(), "loadavg": loads, "engine_loadavg": res["loadavg"],
        "wall_s": time.monotonic() - t0,
        "engine_wall_s": Engine.wall["end"] - Engine.wall["start"],
        "inputs_s": Engine.wall["start"] - t0,
        "fail_frac": fail_frac, "failures": failures,
        "metrics": {k: {"value": v, "unit": u, "n": n}
                    for k, (v, u, n) in {**m, **named, **layer}.items()},
        "detail": detail,
    }
    print(json.dumps(report, default=str), flush=True)
    # keep the engine log of a run, drop its bulk (inputs, results, spills)
    for name in os.listdir(run_dir):
        if name != "engine.log":
            path = os.path.join(run_dir, name)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)

    names = [x["name"] for x in bench["per_layer" if args.trace else "end_to_end"]]
    units = {x["name"]: x["unit"] for x in bench["end_to_end"] + bench["per_layer"]}
    source = layer if args.trace else m
    metrics = {}
    for name in names:
        v = source.get(name, (None,))[0]
        if v is None:
            die(f"metric {name} was not measured")
        metrics[name] = {"value": float(v), "unit": units[name]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
