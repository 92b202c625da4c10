#!/usr/bin/env python3
"""Benchmark command: runs one named workload of query keys against
`graft.SparkEntry.queries` and prints its metrics.

    python3 perfbench/run.py --workload window_native --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Steps:
  1. compile the program and the runner (perfbench/build.sh; skipped when
     the sources are unchanged);
  2. generate the input tables from --seed (perfbench/gen_data.py);
  3. start one JVM on local[N] that warms up with one untimed pass (which
     also writes each key's rows), then calls every key of the workload in
     a closed loop (one client, the next call after the previous noop
     write), pass after pass, in a seed-shuffled order, until the
     workload's number of passes is done and --seconds have passed;
  4. check every key's rows against its DuckDB oracle SQL (bit-exact); a
     key that fails the check fails every one of its calls;
  5. print the metrics. The last stdout line is one JSON object:
     {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
     metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Everything the run writes goes under .bench_build/perfbench/ in the
current directory, except that the program's stream keys stage their
input under /tmp/graft_stream/<app id>; the program removes that
directory when its JVM exits, and this script removes it if the JVM was
killed.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_data  # noqa: E402
import oracle  # noqa: E402

# Scale factor of the generated tables: sf0.01 is 60k lineitem rows,
# 10k events and 500 documents; with seed 42 they are the repository's
# sf0.01 test fixtures. Most of a call's time at this size is fixed
# per-call work (analysis, planning, job scheduling, construction jobs,
# micro-batches); sf0.1 would not leave room for enough timed passes in
# a run.
SF = 0.01

# Each workload is a subset of its key family, with the number of timed
# passes it makes at least. Every run pays a cold JVM and a warm-up pass
# (about 20 s) before it measures, and the whole benchmark must fit its
# time budget, so there are three workloads of two to six keys each.
# The timed passes are still warming up (later passes run faster), so
# each workload makes the same number of passes in every run: enough that
# they take longer than --seconds. A run whose passes end sooner adds
# passes until --seconds have passed.
WORKLOADS = {
    # The paper's own surface: mutateW / SqlMutate / CalendarWindow rows,
    # running, range, calendar, rolling-statistics and rank frames on
    # Spark's WindowExec. RollingDistinctRewrite declines on every key and
    # each key runs one small job while it is built, so it is the bypass
    # workload for construction-time changes.
    "window_native": (4, [
        "window_rows_sym", "window_rows_unbounded", "window_range_index",
        "window_range_months", "window_rolling_corr", "window_ranks"]),
    # Keys whose time goes mostly to jobs run while the DataFrame is
    # built: avg(DISTINCT) OVER through RollingDistinctRewrite ->
    # RollingDistinct (bounds sampling, localCheckpoint), SuffixArray
    # prefix doubling over the documents' near-duplicates, and Dedup
    # connected components (tens of jobs and checkpoints per key).
    "build_heavy": (2, [
        "window_rolling_avgdistinct_rule", "text_sa_dedup_docs",
        "dedup_clusters"]),
    # StreamingOps stateful operators drained with Trigger.AvailableNow
    # inside the build call: a trailing-window state machine and
    # streaming dedup. The time is the fixed cost of each micro-batch and
    # of its state-store commits.
    "stream_drain": (5, [
        "window_stream_trailing", "dedup_stream_exact"]),
}

# Metrics of the last line with --trace 0. The summary line before it also
# has call_p50_s and call_p90_s with their sample counts, and failed_frac
# (the last line's failed / attempted). With two to six keys a workload,
# the median or 90th-percentile call is a call of one key or the next
# depending on a few slow calls, so the percentiles jump between runs;
# and failed_frac is 0 when all is well, which no relative bound can
# hold.
END_TO_END = ("setup_s", "pass_s", "peak_rss_mb")

# Per-layer metrics of the last line with --trace 1, with their units.
# Shuffle fetch wait is left out: with local[N] every shuffle block is
# local and the wait is always 0 (it stays in the trace's counters).
LAYER_UNITS = {
    "build.s": "s", "build.self_s": "s", "build.jobs": "count",
    "build.tasks": "count", "plan.s": "s", "exec.s": "s", "exec.self_s": "s",
    "exec.jobs": "count", "exec.tasks": "count", "task.run_s": "s",
    "task.cpu_s": "s", "task.gc_s": "s", "task.deser_s": "s",
    "cores.busy_frac": "frac", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "scan.bytes": "bytes", "scan.rows": "count", "spill.bytes": "bytes",
    "materialize.blocks": "count", "materialize.bytes": "bytes",
    "stream.batches": "count", "stream.trigger_ms_p50": "ms",
    "stream.trigger_ms_p90": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "stream.planning_ms": "ms", "stream.state_rows": "count",
    "stream.state_bytes": "bytes", "stream.state_commit_ms": "ms",
    "trace.overhead_frac": "frac"}

JVM_TIMEOUT_S = 150
# Where the program's stream keys stage their input, per Spark app id.
STREAM_STAGING = "/tmp/graft_stream"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(message):
    log("error:", message)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))] if s else 0.0


def pinned_env():
    """Cores, heap and directories, fixed from the machine, not the caller."""
    cores = max(1, min(4, os.cpu_count() or 1))
    mem_kb = 8 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 6))
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    return cores, heap_mb, os.path.join(spark_home, "jars")


def run_jvm(cmd, timeout):
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"runner exceeded {timeout}s and was killed")


def stream_totals(batches):
    """One pass's micro-batch totals. State size is taken at each query
    run's last batch and summed over the runs."""
    last = {}
    for b in batches:
        if b["run"] not in last or b["batch"] > last[b["run"]]["batch"]:
            last[b["run"]] = b
    out = {"stream.batches": len(batches),
           "stream.state_rows": sum(b["state_rows"] for b in last.values()),
           "stream.state_bytes": sum(b["state_bytes"] for b in last.values())}
    for k in ("add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
              "planning_ms", "state_commit_ms"):
        out[f"stream.{k}"] = sum(b[k] for b in batches)
    return out


def layer_metrics(raw, cores):
    """Per-layer numbers from the traced passes: the median over passes of
    each pass's totals, plus span self times and the tracing overhead."""
    traced = [p for p in raw["passes"] if p["traced"]]
    # pass 0 is untraced and still warming up; the blocks after it are
    # balanced between the two kinds
    plain = [p for p in raw["passes"] if not p["traced"] and p["pass"] > 0]
    jobs = raw["jobs"]
    per_pass = []
    for p in traced:
        n = p["pass"]
        calls = [c for c in raw["calls"] if c["pass"] == n]
        cnt = {}
        for tag, c in raw["counters"].items():
            t_pass, _, phase = tag.split("|") if tag.count("|") == 2 else ("", "", "")
            if t_pass != str(n):
                continue
            for k, v in c.items():
                cnt[(phase, k)] = cnt.get((phase, k), 0) + v

        def total(k):
            return sum(v for (ph, kk), v in cnt.items() if kk == k)

        def in_phase(phase):
            # union of this pass's job spans tagged with the phase, in s
            iv = sorted((j["start_ms"], j["end_ms"]) for j in jobs
                        if j["tag"].startswith(f"{n}|")
                        and j["tag"].endswith(f"|{phase}"))
            covered, end = 0.0, float("-inf")
            for s, e in iv:
                if e > end:
                    covered += e - max(s, end)
                    end = e
            return covered / 1e3

        wall = (p["end_ns"] - p["start_ns"]) / 1e9
        build_s = sum(c["build_s"] for c in calls)
        exec_s = sum(c["exec_s"] for c in calls)
        run_s = total("run_ms") / 1e3
        per_pass.append({
            "build.s": build_s,
            "build.self_s": max(0.0, build_s - in_phase("build")),
            "build.jobs": cnt.get(("build", "jobs"), 0),
            "build.tasks": cnt.get(("build", "tasks"), 0),
            "plan.s": sum(c["plan_s"] for c in calls),
            "exec.s": exec_s,
            "exec.self_s": max(0.0, exec_s - in_phase("exec")),
            "exec.jobs": cnt.get(("exec", "jobs"), 0),
            "exec.tasks": cnt.get(("exec", "tasks"), 0),
            "task.run_s": run_s,
            "task.cpu_s": total("cpu_ns") / 1e9,
            "task.gc_s": total("gc_ms") / 1e3,
            "task.deser_s": total("deser_ms") / 1e3,
            "cores.busy_frac": run_s / (cores * wall),
            "shuffle.write_bytes": total("shuffle_write_bytes"),
            "shuffle.read_bytes": total("shuffle_read_bytes"),
            "scan.bytes": total("scan_bytes"),
            "scan.rows": total("scan_rows"),
            "spill.bytes": total("spill_bytes"),
            "materialize.blocks": total("blocks"),
            "materialize.bytes": total("block_bytes"),
            **stream_totals([b for b in raw["batches"] if b["pass"] == n]),
        })
    out = {k: median([pp[k] for pp in per_pass]) for k in per_pass[0]}
    trigger = [b["trigger_ms"] for b in raw["batches"]]
    out["stream.trigger_ms_p50"] = percentile(trigger, 50)
    out["stream.trigger_ms_p90"] = percentile(trigger, 90)

    def wall(ps):
        return median([(p["end_ns"] - p["start_ns"]) / 1e9 for p in ps])
    out["trace.overhead_frac"] = wall(traced) / wall(plain) - 1.0
    return out


def spans(raw):
    """The span tree pass > call > {build, plan, exec} > spark.job, plus
    stream.batch spans under the build span they started in, with
    epoch-nanosecond start and end times."""
    out = []
    for p in raw["passes"]:
        out.append({"id": f"p{p['pass']}", "parent": None, "name": "pass",
                    "start_ns": p["start_ns"], "end_ns": p["end_ns"],
                    "traced": p["traced"]})
    for i, c in enumerate(raw["calls"]):
        cid = f"c{i}"
        t = c["start_ns"]
        b, pl, ex = (int(c[k] * 1e9) for k in ("build_s", "plan_s", "exec_s"))
        out.append({"id": cid, "parent": f"p{c['pass']}", "name": "call",
                    "key": c["key"], "start_ns": t, "end_ns": t + b + pl + ex,
                    "error": c["error"]})
        for name, s, d in (("build", t, b), ("plan", t + b, pl),
                           ("exec", t + b + pl, ex)):
            out.append({"id": f"{cid}.{name}", "parent": cid, "name": name,
                        "start_ns": s, "end_ns": s + d})
    call_of = {(c["pass"], c["key"]): f"c{i}"
               for i, c in enumerate(raw["calls"])}
    for j in raw["jobs"]:
        if j["tag"].count("|") != 2:
            continue
        p, key, phase = j["tag"].split("|")
        parent = call_of.get((int(p), key))
        out.append({"id": f"j{j['job']}",
                    "parent": f"{parent}.{phase}" if parent else None,
                    "name": "spark.job", "start_ns": j["start_ms"] * 1000000,
                    "end_ns": j["end_ms"] * 1000000})
    builds = [(s["start_ns"], s["end_ns"], s["id"]) for s in out
              if s["name"] == "build"]
    for i, b in enumerate(raw["batches"]):
        start = b["start_ms"] * 1000000
        parent = next((sid for s, e, sid in builds if s <= start <= e), None)
        out.append({"id": f"b{i}", "parent": parent, "name": "stream.batch",
                    "start_ns": start,
                    "end_ns": start + b["trigger_ms"] * 1000000,
                    "batch": b["batch"]})
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hooks: a smaller scale, a subset of the workload's keys,
    # a key forced to throw
    ap.add_argument("--sf", type=float, default=SF)
    ap.add_argument("--keys")
    ap.add_argument("--fail-key")
    a = ap.parse_args()

    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; known: {sorted(WORKLOADS)}")
    min_passes, keys = WORKLOADS[a.workload]
    if a.keys:
        sub = [k for k in a.keys.split(",") if k]
        bad = [k for k in sub if k not in keys]
        if bad:
            fail(f"keys not in workload {a.workload}: {bad}")
        keys = sub
    if not os.path.isdir("src/main/scala"):
        fail("run from the repository root: src/main/scala is missing")

    cores, heap_mb, jars = pinned_env()
    work = os.path.abspath(os.path.join(".bench_build", "perfbench"))
    classes = os.path.join(work, "classes")
    t0 = time.time()
    build = subprocess.run(["bash", os.path.join(HERE, "build.sh"), jars,
                            classes], stdout=sys.stderr, stderr=sys.stderr)
    if build.returncode != 0:
        fail("build failed")
    log(f"build ready in {time.time() - t0:.1f}s")

    data = os.path.join(work, "data", f"sf{a.sf}-seed{a.seed}")
    if not os.path.isfile(os.path.join(data, "_READY")):
        shutil.rmtree(data, ignore_errors=True)
        gen_data.write(data, a.seed, a.sf)
        open(os.path.join(data, "_READY"), "w").close()

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    out = os.path.join(work, "runs", run_id)
    tmp = os.path.join(work, "tmp", run_id)
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    env_line = {"cores": cores, "shuffle_partitions": cores,
                "heap_mb": heap_mb, "young_mb": heap_mb // 3, "tmpdir": tmp,
                "tmpdir_why": "inside the checkout; /dev/shm is never used",
                "tz": "UTC",
                "sf": a.sf, "workload": a.workload, "seed": a.seed,
                "keys": len(keys), "loop": "closed, 1 client, 1 process"}
    # A fixed young generation: G1's adaptive young sizing touched between
    # 2.2 and 2.8 GB of the same heap from run to run of one workload, so
    # peak RSS measured the sizing heuristic more than the program.
    cmd = (["java", f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m",
            f"-Xmn{heap_mb // 3}m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            "-Dlog4j2.configurationFile="
            + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "perfbench.PerfBench",
              "--keys", ",".join(keys), "--data", data, "--out", out,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores),
              "--min-passes", str(min_passes)]
           + (["--fail-key", a.fail_key] if a.fail_key else []))
    try:
        code = run_jvm(cmd, JVM_TIMEOUT_S)
        if code != 0:
            fail(f"runner exited with code {code}")
        with open(os.path.join(out, "raw.json")) as f:
            raw = json.load(f)
        check, rows = oracle.check(data, out, keys, threads=cores, tmp=tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        app_id = os.path.join(out, "app_id")
        if os.path.isfile(app_id):
            with open(app_id) as f:
                name = f.read().strip()
            if name and "/" not in name and name not in (".", ".."):
                shutil.rmtree(os.path.join(STREAM_STAGING, name),
                              ignore_errors=True)
                try:
                    os.rmdir(STREAM_STAGING)  # only if nothing else is left
                except OSError:
                    pass

    env_line.update(raw["env"])
    print("perfbench env " + json.dumps(env_line, sort_keys=True))
    print("perfbench warm-up " + json.dumps(raw["warm_s"], sort_keys=True))
    for k, e in raw["warm_errors"].items():
        print(f"perfbench warm-up failure {k}: {e}")
    bad_keys = {k for k, why in check.items() if why}
    for k in sorted(bad_keys):
        print(f"perfbench oracle FAIL {k}: {check[k]}")

    print("perfbench rows " + json.dumps(rows, sort_keys=True))
    for c in raw["calls"]:
        if c["error"] is not None:
            print(f"perfbench call FAIL pass {c['pass']} {c['key']}: "
                  f"{c['error']}")
    attempted = len(raw["calls"])
    failed = sum(1 for c in raw["calls"]
                 if c["error"] is not None or c["key"] in bad_keys)
    # timings come from the untraced passes only
    ok = [c for c in raw["calls"] if not c["traced"]
          and c["error"] is None and c["key"] not in bad_keys]
    call_s = [c["build_s"] + c["plan_s"] + c["exec_s"] for c in ok]
    per_key = {k: [c["build_s"] + c["plan_s"] + c["exec_s"]
                   for c in ok if c["key"] == k] for k in keys}
    # one pass over the workload, built from each key's median call, so a
    # single slow call moves it less than a median of a few pass totals
    pass_s = sum(median(v) for v in per_key.values())
    n_passes = sum(1 for p in raw["passes"] if not p["traced"])
    summary = {
        "setup_s": {"value": raw["setup_s"], "unit": "s"},
        "pass_s": {"value": pass_s, "unit": "s", "n": n_passes},
        "call_p50_s": {"value": percentile(call_s, 50), "unit": "s",
                       "n": len(call_s)},
        "call_p90_s": {"value": percentile(call_s, 90), "unit": "s",
                       "n": len(call_s)},
        "failed_frac": {"value": failed / attempted, "unit": "frac",
                        "n": attempted},
        "peak_rss_mb": {"value": raw["peak_rss_kb"] / 1024.0, "unit": "MB"},
    }
    keys_line = {f"key.{k}.s": median(v) if v else None
                 for k, v in per_key.items()}
    if a.trace:
        # construction-time jobs per call, median over the traced passes
        for k in keys:
            jobs = [c.get("jobs", 0) for t, c in raw["counters"].items()
                    if t.endswith(f"|{k}|build")]
            keys_line[f"key.{k}.build_jobs"] = median(jobs)
    print("perfbench keys " + json.dumps(keys_line, sort_keys=True))
    print("perfbench summary " + json.dumps(summary, sort_keys=True))
    if a.trace:
        metrics = layer_metrics(raw, cores)
        final = {k: {"value": metrics[k], "unit": u}
                 for k, u in LAYER_UNITS.items()}
        trace_file = os.path.join(work, "traces", f"{run_id}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as f:
            json.dump({"env": env_line, "spans": spans(raw),
                       "counters": raw["counters"]}, f)
        print(f"perfbench trace {trace_file}")
    else:
        final = {k: {"value": summary[k]["value"], "unit": summary[k]["unit"]}
                 for k in END_TO_END}
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not bad_keys,
                      "attempted": attempted, "failed": failed,
                      "metrics": final}))


if __name__ == "__main__":
    main()
