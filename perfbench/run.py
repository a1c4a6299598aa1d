"""graft product-path benchmark: SaneQL over HTTP, appends beside reads.

    python3 perfbench/run.py --workload api_reads --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the harness with sbt
(perfbench/build.sbt) on first use, generates the seeded data directory
and request mix (gen.py), drives the JVM harness (src/main/scala), checks
every answer against the generator's sidecar (check.py), and prints one
JSON object as the last line of stdout. `--trace 1` reports the per-layer
metrics instead of the end-to-end ones.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
from stats import median, summary  # noqa: E402

# Generated input per run (see NOTES.md for why it is this small).
ROWS = 50
BATCH_ROWS = 10
# api_reads: 1 closed-loop reader over the base input.
# api_append: one append and its hot-swap rebuild, then 1 closed-loop
# reader over the appended (layered) state. (Two readers ran their
# mutations requests in lockstep; see NOTES.md.)
WORKLOADS = ("api_reads", "api_append")
# the harness's own limit, counted after the build (a run must end in 180 s)
JVM_LIMIT_S = 165
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return os.path.join(os.getcwd(), ".bench_build", "perfbench")


def source_stamp(root):
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src", "main", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(root):
    """Compile the engine and the harness (sbt, offline) once per source
    state; returns the runtime classpath."""
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ":" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, work, a, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Main",
        "--work", work, "--workload", a.workload, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(os.cpu_count() or 1)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def judge(res, work):
    """Check every API answer against the sidecar; returns the list of
    (request record, failure reason or None)."""
    with open(os.path.join(work, "expected.json")) as f:
        expected = json.load(f)
    version_idx = {v: i for i, v in enumerate(res["versions"])}
    out = []
    for r in res["requests"]:
        with open(os.path.join(work, "bodies", str(r["body"])), "rb") as f:
            body = f.read()
        v = version_idx.get(r["version"])
        if r["status"] != 200:
            why = f"HTTP {r['status']}: {body[:200]!r}"
        elif v is None:
            why = f"unknown data-version {r['version']}"
        else:
            why = check.check(expected[r["id"]][v], body, r["accept"])
        out.append((r, v, why))
    return out


def e2e_metrics(res, judged):
    timed = [r for r, _, _ in judged if r["phase"] == "timed"]
    lat = lambda rs: [r["end"] - r["start"] for r in rs]  # noqa: E731
    cls = lambda c: [r for r in timed if r["class"] == c]  # noqa: E731

    classes = sorted({r["class"] for r in timed})
    export = cls("export")
    commits = [x["end"] - x["start"] for x in res["appends"]]
    swaps = swap_times(res, judged)
    m = {
        "setup_s": (res["setup_s"], "s"),
        # class-balanced: the median of the per-class medians, so the mix
        # of shapes a short window happens to sample does not move it
        "read_p50_s": (median([median(lat(cls(c))) for c in classes]), "s"),
        # the window holds whole cycles, so every timed read lies inside it
        "read_qps": (len(timed) / (res["window"][1] - res["window"][0]), "1/s"),
        "meta_p50_s": (median(lat(cls("meta"))), "s"),
        "routed_p50_s": (median(lat(cls("routed"))), "s"),
        "mutations_p50_s": (median(lat(cls("mutations"))), "s"),
        # format-balanced: NDJSON and Arrow bodies differ in size and
        # first-byte time, so a plain median over both falls in the gap
        # between the two groups and swings with their edge samples
        "export_ttfb_p50_s": (by_format(export, lambda r: r["ttfb"] - r["start"]), "s"),
        "export_mb_per_s": (by_format(export, lambda r: r["bytes"] / 1e6 / (r["end"] - r["start"])),
                            "MB/s"),
        "state_bytes_per_input_byte": (res["state_bytes"] / res["input_bytes"], "ratio"),
    }
    detail = {
        "read_s": summary(lat(timed)),
        **{f"{c}_s": summary(lat(cls(c))) for c in classes},
        "export_ttfb_s": summary([r["ttfb"] - r["start"] for r in export]),
        "append_commit_s": summary(commits),
        "swap_visible_s": summary(swaps),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return m, detail


def by_format(export, f):
    """The median of the per-format medians of f over the export reads."""
    fmts = sorted({r["accept"] for r in export})
    return median([median([f(r) for r in export if r["accept"] == a]) for a in fmts])


def swap_times(res, judged):
    """Per append: from the commit to the end of the first response that
    carries the new data-version."""
    out = []
    for x in res["appends"]:
        ends = [r["end"] for r, v, _ in judged
                if v is not None and v >= x["version"] and r["start"] >= x["end"]]
        if ends:
            out.append(min(ends) - x["end"])
    return out


def spans_named(res, name, cls=None):
    return [s for s in res["spans"] if s["name"] == name
            and (cls is None or s.get("class") == cls)]


def dur(spans):
    return [s["end"] - s["start"] for s in spans]


def idle_share(requests, task_intervals):
    """Share of request wall time during which no task ran."""
    def union(iv):
        out = []
        for s, e in sorted(iv):
            if out and s <= out[-1][1]:
                out[-1][1] = max(out[-1][1], e)
            else:
                out.append([s, e])
        return out
    reqs, tasks = union([(r["start"], r["end"]) for r in requests]), union(task_intervals)
    wall = sum(e - s for s, e in reqs)
    busy = sum(max(0.0, min(e, te) - max(s, ts)) for s, e in reqs for ts, te in tasks)
    return 1 - busy / wall


def layer_metrics(res, judged):
    traced = [r for r, _, _ in judged if r["phase"] == "traced"]
    untraced = [r for r, _, _ in judged if r["phase"] == "timed"]
    n = len(traced)
    hc = res["http_counters"]
    replay = {}
    for s in spans_named(res, "replay.total"):
        replay.setdefault(s["id"], []).append(s["end"] - s["start"])
    self_s = [(r["end"] - r["start"]) - median(replay[r["id"]]) for r in traced]
    totals = spans_named(res, "replay.total")
    m = {
        "seq.diff_s": (median(dur(spans_named(res, "seq.diff"))), "s"),
        "seq.diff_kernel_s": (median(dur(spans_named(res, "seq.diff_kernel"))), "s"),
        "seq.mutations_s": (median(dur(spans_named(res, "replay.exec", "mutations"))), "s"),
        "sources.ndjson_read_s": (median(dur(spans_named(res, "sources.ndjson_read"))), "s"),
        "lang.parse_s": (median(dur(spans_named(res, "lang.parse"))), "s"),
        "lang.plan_s": (median(dur(spans_named(res, "lang.plan"))), "s"),
        "lang.routed_share": (sum(s["routed"] for s in totals) / len(totals), "ratio"),
        "spark.analyze_s": (median(dur(spans_named(res, "spark.analyze"))), "s"),
        "spark.optimize_s": (median(dur(spans_named(res, "spark.optimize"))), "s"),
        "spark.physical_s": (median(dur(spans_named(res, "spark.physical"))), "s"),
        "server.ttfb_s": (median([r["ttfb"] - r["start"] for r in traced]), "s"),
        "server.stream_s": (median([r["end"] - r["ttfb"] for r in traced]), "s"),
        "server.bytes_out": (sum(r["bytes"] for r in traced) / n, "bytes"),
        "server.self_s": (median(self_s), "s"),
        "exec.idle_share": (idle_share(traced, hc["task_intervals"]), "ratio"),
        "core.build_s": (median(dur(spans_named(res, "core.build"))), "s"),
        "core.build_warm_s": (median(dur(spans_named(res, "core.build_warm"))), "s"),
        "core.state_bytes": (median([s["bytes"] for s in spans_named(res, "core.state")]),
                             "bytes"),
        "tools.append_s": (median(dur(spans_named(res, "tools.append"))), "s"),
        "core.swap_build_s": (median(dur(spans_named(res, "core.swap_build"))), "s"),
        "trace.overhead_share": (median(dur(traced)) / median(dur(untraced)) - 1, "ratio"),
        "jvm.peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    # Spark counters of the server's jobs, per traced request
    for key, unit in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
                      ("input_bytes", "bytes"), ("input_records", "count"),
                      ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                      ("spill_bytes", "bytes")]:
        m[f"exec.{key}"] = (hc[key] / n, unit)
    return m


def cpu_steal():
    """(steal, total) jiffies so far; a busy host shows up as steal."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.time()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root (build.sbt and src/main/scala/graft not found)")
    cp = classpath(root)
    steal0 = cpu_steal()

    work = os.path.join(build_dir(), "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    gen.generate(a.seed, work, ROWS, 2, BATCH_ROWS)
    generated = time.time()
    try:
        res = run_jvm(cp, work, a, generated + JVM_LIMIT_S)
        jvm_done = time.time()
        judged = judge(res, work)
        metrics, detail = (layer_metrics(res, judged), {}) if a.trace \
            else e2e_metrics(res, judged)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    scored = [(r, why) for r, _, why in judged]
    failed = [(r, why) for r, why in scored if why]
    for r, why in failed[:5]:
        print(f"perfbench: wrong answer {r['id']} ({r['phase']}): {why}", file=sys.stderr)
    steal1 = cpu_steal()
    detail.update(failed_share=len(failed) / len(scored), samples=len(scored),
                  cpu_steal_share=(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
                  prep_s=generated - started, jvm_s=jvm_done - generated,
                  run_s=time.time() - started)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(scored),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
