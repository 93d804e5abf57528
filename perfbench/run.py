#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <query_pass|driver_loops|health_stream>
                             --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the library and the
harness from source (sbt, offline; cached under .bench_build/ by a hash
of the sources), makes the workload's inputs from the seed under
.bench_work/, runs the harness JVM, checks every output, and prints
as its last line `{"correct", "attempted", "failed", "metrics"}`: the
end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The full run record (box state, per-query times, spans)
goes to .bench_work/last-<workload>.json. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from bench import metrics, stream  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ROUNDS = 2
LIVE_SHARE = 0.6


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_layout():
    need = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "workloads.json"),
            os.path.join(HERE, "expected", "digests.json")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        die("not a graft checkout, missing: " + ", ".join(os.path.relpath(p, ROOT) for p in missing))
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = sorted(os.path.join(d, f) for d, dirs, fs in os.walk(r)
                           for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """sbt compiles the library and the harness; the launch file holds
    the classpath and the library build's JVM options."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "launch.stamp")
    launch = os.path.join(BUILD_DIR, "launch.txt")
    digest = source_hash()
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read().strip() == digest):
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM="4g",
                   JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
        # sbt's own state, locks, sockets and temporary files stay in the
        # checkout; it only reads the toolchain and the dependency cache
        tmp = os.path.join(BUILD_DIR, "tmp")
        os.makedirs(tmp, exist_ok=True)
        props = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                 "-Dsbt.log.noformat=true",
                 f"-Dsbt.global.base={os.path.join(BUILD_DIR, 'sbt-global')}",
                 f"-Dsbt.ivy.home={os.path.join(BUILD_DIR, 'ivy2')}",
                 f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            props += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        log = os.path.join(BUILD_DIR, "build.log")
        with open(log, "w") as out:
            rc = run_process(["sbt", "--batch", *props, "writeLaunch"], HERE, env, out, out,
                             BUILD_TIMEOUT_S)
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            die(f"build failed (exit {rc}), log in {os.path.relpath(log, ROOT)}")
        shutil.copy(os.path.join(HERE, "target", "launch.txt"), launch)
        with open(stamp, "w") as fh:
            fh.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], [x for x in lines[1:] if x], digest


def run_process(cmd, cwd, env, stdout, stderr, timeout):
    """Runs cmd in its own process group; on timeout the whole group is
    killed and waited for."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def box_state():
    def read(path):
        try:
            with open(path) as fh:
                return fh.read()
        except OSError:
            return ""
    mem = {}
    for line in read("/proc/meminfo").splitlines():
        k, _, v = line.partition(":")
        mem[k] = v.strip()
    # cumulative CPU jiffies (user nice system idle iowait irq softirq steal)
    cpu = [int(x) for x in (read("/proc/stat").splitlines() or [""])[0].split()[1:9]]
    return {"loadavg": read("/proc/loadavg").split()[:3], "nproc": cores(),
            "mem_available": mem.get("MemAvailable"), "mem_total": mem.get("MemTotal"),
            "cpu_jiffies": cpu}


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def stream_args(cfg, seed, seconds, work, roles):
    """Writes the stream inputs of `roles`; returns harness args and the
    generated streams. The roles share the tick, the replay speed and
    the files per micro-batch, and differ in size."""
    common = {k: cfg[k] for k in ("period_ms", "speedup", "tick_ms", "max_files")}
    gens = {}
    args = [f"tick_ms={cfg['tick_ms']}", f"max_files={cfg['max_files']}"]
    for role, arg, s in (("stream", "stream_in", seed), ("warm", "warm_in", seed + 1),
                         ("baseline", "baseline_in", seed + 2)):
        if role not in roles:
            continue
        spec = dict(common, **cfg[role])
        if role == "stream":
            # catch-up and the live phase share the run length
            spec["live_files"] = max(1, round(LIVE_SHARE * seconds * 1000 / cfg["tick_ms"]))
        gen = stream.generate(stream.Spec(**spec), s)
        d = os.path.join(work, "input", role)
        stream.write(gen, d)
        gens[role] = gen
        args.append(f"{arg}={d}")
    return args, gens


def lines_of(gen):
    return {name: len(lines) for name, _, lines in gen.files}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    check_layout()
    workloads = metrics.load_json(os.path.join(HERE, "workloads.json"))
    if a.workload not in workloads:
        die(f"unknown workload {a.workload}; one of {', '.join(workloads)}")
    cfg = workloads[a.workload]
    box_start = box_state()
    cp, jvm_opts, src_hash = build()

    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    n = cores()
    args = [f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
            f"trace={a.trace}", f"work={work}", f"cores={n}", f"rounds={ROUNDS}"]
    gens = {}
    if a.workload == "health_stream":
        roles = ("stream", "warm", "baseline") if a.trace else ("stream", "warm")
        extra, gens = stream_args(cfg, a.seed, a.seconds, work, roles)
        args += extra
    else:
        data = os.path.join(HERE, "data")
        args += [f"data={os.path.join(data, cfg['data'])}", f"warm={os.path.join(data, cfg['warm'])}",
                 "queries=" + ",".join(cfg["queries"])]
        digests = metrics.load_json(os.path.join(HERE, "expected", "digests.json"))
        if a.trace:
            extra, gens = stream_args(workloads["health_stream"], a.seed, a.seconds, work,
                                      ("baseline",))
            args += extra

    timing = {"prepare_s": time.time() - started}
    t0_ms = int(time.time() * 1000)
    args.append(f"t0_ms={t0_ms}")
    cmd = ["java", *jvm_opts, "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "graftbench.Main", *args]
    with open(os.path.join(work, "jvm.out"), "w") as out, \
            open(os.path.join(work, "jvm.err"), "w") as err:
        try:
            rc = run_process(cmd, ROOT, dict(os.environ), out, err, JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"harness timed out after {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(os.path.join(work, "record.json")):
        sys.stderr.write(open(os.path.join(work, "jvm.err")).read()[-6000:])
        die(f"harness failed (exit {rc})")
    record = metrics.load_json(os.path.join(work, "record.json"))
    timing["jvm_s"] = time.time() - t0_ms / 1000

    problems = []
    detail = {}
    if a.workload == "health_stream":
        checked = stream.check(gens["stream"], record["stream"])
        attempted, failed = checked["attempted"], checked["failed"]
        if not checked["drop_count_ok"]:
            problems.append(f"watermark dropped {checked['dropped_by_watermark']} rows, "
                            f"{checked['planted_late']} were planted late")
        if failed:
            problems.append(f"alerts: {checked['examples']}")
        e2e, detail = metrics.stream_e2e(record, checked)
        detail["check"] = {k: v for k, v in checked.items() if k != "latencies_ms"}
        extras = [("warm_up", "warm"), ("untraced_stream", "stream"), ("traced_stream", "stream")]
    else:
        timed = record["passes"] + [record[k] for k in ("untraced_pass", "traced_pass") if k in record]
        checks = [(timed, cfg["data"]), ([record["warm_up"]], cfg["warm"])]
        attempted, failed = 0, 0
        for passes, sf in checks:
            n, bad, probs = metrics.check_batch(passes, digests[sf])
            attempted, failed, problems = attempted + n, failed + bad, problems + probs
        e2e, detail = metrics.batch_e2e(record)
        extras = []
    # the run's other streams (the warm-up and, in a traced run, the
    # local[1] baseline and the rest) are checked like the first
    for key, role in extras + [("baseline", "baseline")]:
        if key in record:
            more = stream.check(gens[role], record[key])
            attempted += more["attempted"]
            failed += more["failed"]
            if more["failed"]:
                problems.append(f"{key} alerts: {more['examples']}")
            if not more["drop_count_ok"]:
                problems.append(f"{key}: watermark dropped {more['dropped_by_watermark']} rows, "
                                f"{more['planted_late']} were planted late")

    timing["check_s"] = time.time() - t0_ms / 1000 - timing["jvm_s"]
    detail["timing"] = timing
    out = {"e2e": e2e}
    if a.trace:
        out["layers"] = layers(a.workload, record, gens, n, detail)
    correct = failed == 0 and not problems
    full = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "correct": correct, "attempted": attempted, "failed": failed, "problems": problems,
            "box": {"start": box_start, "end": box_state(), "java": record.get("java_version"),
                    "spark": record.get("spark_version"), "git_commit": git_commit(),
                    "source_sha256": src_hash, "cores": n},
            "setups_s": record["setups_s"], "warm_up_s": record["warm_up"].get("wall_s"),
            "detail": detail, **out,
            "queries": [p["queries"] for p in record.get("passes", [])]}
    os.makedirs(WORK_ROOT, exist_ok=True)
    with open(os.path.join(WORK_ROOT, f"last-{a.workload}.json"), "w") as fh:
        json.dump(full, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for p in problems[:20]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    # the metrics and their units are the ones BENCHMARK.json names
    spec = metrics.load_json(os.path.join(ROOT, "BENCHMARK.json"))
    chosen = out["layers"] if a.trace else e2e
    named = spec["per_layer"] if a.trace else spec["end_to_end"]
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {m["name"]: {"value": chosen[m["name"]], "unit": m["unit"]}
                          for m in named}}
    print(json.dumps(result))


def layers(workload, record, gens, n, detail):
    """Per-layer numbers of the traced run; per-query shares go to detail."""
    spans = record["spans"]
    out = {}
    if workload == "health_stream":
        untraced = metrics.catchup_seconds(record["untraced_stream"])
        traced = metrics.catchup_seconds(record["traced_stream"])
        wall = metrics.span_seconds(spans, "catchup") + metrics.span_seconds(spans, "live")
        out["entry.frame_build_s"] = metrics.span_seconds(spans, "frame_build")
        out["entry.action_s"] = wall
        out["jvm.gc_s"] = record["traced_stream"]["gc_s"]
        out.update(metrics.spark_layers(spans, wall, n))
        out.update(metrics.stream_layers(record["traced_stream"], lines_of(gens["stream"])))
        out["trace.overhead_s"] = traced - untraced
    else:
        tp = record["traced_pass"]["queries"]
        wall = sum(q["wall_s"] for q in tp)
        out["entry.frame_build_s"] = sum(q["build_s"] for q in tp)
        out["entry.action_s"] = sum(q["action_s"] for q in tp)
        out["jvm.gc_s"] = sum(q["gc_s"] for q in tp)
        out.update(metrics.spark_layers(spans, wall, n))
        # no stream of its own: the stream layers are the baseline's
        out.update(metrics.stream_layers(record["baseline"], lines_of(gens["baseline"])))
        out["trace.overhead_s"] = wall - metrics.pass_seconds(record["untraced_pass"])
        # each query's wall is its frame build plus its write
        detail["traced_queries"] = [
            {"name": q["name"], "build_s": q["build_s"], "action_s": q["action_s"],
             "wall_s": q["wall_s"], "build_share": q["build_s"] / q["wall_s"]} for q in tp]
    out["jvm.peak_rss_mb"] = record["peak_rss_mb"]
    base = record["baseline"]
    out["baseline.catchup_events_per_s"] = base["backlog_lines"] / metrics.catchup_seconds(base)
    return out


if __name__ == "__main__":
    main()
