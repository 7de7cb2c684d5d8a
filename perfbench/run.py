#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, check, report.

    python3 perfbench/run.py --workload ref_queries --seed 1 --seconds 20 --trace 0

Run from the repository root. The program is compiled from ``src/main``
with the Scala compiler that ships in the Spark distribution (no sbt, no
``build.sbt`` change), the harness in ``perfbench/scala`` against it, both
cached under ``.bench_build/`` by a hash of their sources. Inputs are made
from ``--seed`` (``perfbench/gen.py``; the daily-ingest payloads inside the
JVM). Every file the run writes stays under the checkout: ``.bench_work/``
(inputs, lake, dumps; removed at exit) and ``.bench_out/`` (the stamped
artifact and, when traced, the span sidecar).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. Lines before it print every metric by name with its unit.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("ref_queries", "daily_ingest", "corpus_prep")
# the operation whose latency is op_p50_ms on each workload
PRIMARY = {"ref_queries": "query", "daily_ingest": "day", "corpus_prep": "chain"}
# share of the planted near copies dedupNearSimhash must catch when it
# runs straight after dedupExact (SimHash at Hamming <= 3 misses a few
# copies whose token edits move more than 3 bits)
NEAR_RECALL = 0.25
SETUP_SAMPLES = 2           # one in the measuring JVM, one in a probe JVM
JVM_HEAP = "2g"
JVM_YOUNG = "512m"
RUN_TIMEOUT_S = 150
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def spark_jars(root):
    """The Spark distribution's jars: ``$SPARK_HOME/jars``, else the
    directory the sbt build takes them from (``unmanagedBase``)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            fail("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    found = sorted(glob.glob(os.path.join(jars, "*.jar")))
    if not found:
        fail(f"no Spark jars under {jars} (set SPARK_HOME)")
    return found


def sources(*roots):
    out = []
    for root in roots:
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files):
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    os.makedirs(out, exist_ok=True)
    args_file = os.path.join(out, "..", os.path.basename(out) + ".args")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", ":".join(classpath), "-d", out, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])


def build(root, jars):
    """Compile the program and the harness once per source state."""
    prog_src = os.path.join(root, "src", "main", "scala")
    res_src = os.path.join(root, "src", "main", "resources")
    bench_src = os.path.join(HERE, "scala")
    files = sources(prog_src, res_src, bench_src)
    out = os.path.join(root, ".bench_build", "perfbench", digest(files))
    prog, harness = os.path.join(out, "program"), os.path.join(out, "harness")
    if not os.path.exists(os.path.join(out, "OK")):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        scalac(jars, jars, prog, [f for f in files if f.startswith(prog_src) and f.endswith(".scala")])
        if os.path.isdir(res_src):
            shutil.copytree(res_src, prog, dirs_exist_ok=True)
        scalac(jars, [prog] + jars, harness,
               [f for f in files if f.startswith(bench_src) and f.endswith(".scala")])
        open(os.path.join(out, "OK"), "w").close()
        log(f"built program and harness in {time.time() - t0:.1f}s")
    return [harness, prog] + jars


def jvm(classpath, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java"] + opens + [
        # a fixed heap and young generation: peak RSS then follows the
        # live data, not when G1 chose to grow the heap
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
        # no hsperfdata file in the system temp dir: a run writes only
        # under the checkout
        "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}", "-Dspark.callstack.depth=60",
        "-cp", ":".join(classpath), "perfbench.Main"] + args


def launch(cmd, work, timeout):
    """Run a harness JVM; returns (setup seconds, stdout)."""
    # two malloc arenas: with one per thread, native memory (and so peak
    # RSS) depends on how Spark's threads happened to interleave
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"), MALLOC_ARENA_MAX="2")
    t0 = time.time()
    try:
        r = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"harness exceeded {timeout}s")
    ready = [ln for ln in r.stdout.splitlines() if ln.startswith("READY ")]
    if r.returncode != 0 or not ready:
        sys.stderr.write(r.stderr[-6000:])
        fail(f"harness exited with {r.returncode}")
    for ln in r.stderr.splitlines():
        if ln.startswith("[perfbench]"):
            print(ln, file=sys.stderr)
    return int(ready[0].split()[1]) / 1e6 - t0, r.stdout


def oracle_check(root, data, dump):
    """Pass the dumped Qa-Qh outputs through the repo's DuckDB oracle.
    Returns {query: ok}."""
    sys.path.insert(0, os.path.join(root, "scripts"))
    import oracle_check as oc
    names = set(json.load(open(os.path.join(dump, "oracle_sql.json"))))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        oc.main(data, dump, names)
    ok = {n: False for n in names}
    for ln in buf.getvalue().splitlines():
        parts = ln.split()
        if len(parts) >= 2 and parts[0] == "OK" and parts[1] in ok:
            ok[parts[1]] = True
    return ok


def _kept(result, stage):
    ids = result["notes"].get(f"probe.{stage}.kept_ids", "")
    return {int(x) for x in ids.split(",") if x}


def near_dup_check(kept, planted):
    """``dedupExact`` then ``dedupNearSimhash`` against the planted groups.

    Every dropped text must keep a text of its own group (two instances of
    the shared template count as one group), no id may appear that
    dedupExact did not keep, and at least ``NEAR_RECALL`` of the planted
    near copies must go. Returns (ok, detail).
    """
    def group(i):
        g, kind = planted[i]
        return "template" if kind == "boilerplate" else g
    sizes = {}
    for i in planted:
        sizes[group(i)] = sizes.get(group(i), 0) + 1
    planted_copies = sum(n - 1 for g, n in sizes.items() if g != "template")
    dropped = set(planted) - kept
    kept_groups = {group(i) for i in kept & set(planted)}
    orphans = sorted(i for i in dropped if group(i) not in kept_groups)
    ok = (kept <= set(planted) and not orphans
          and len(dropped) >= NEAR_RECALL * planted_copies)
    return ok, (f"dropped {len(dropped)} of {planted_copies} planted near copies; "
                f"unknown ids {len(kept - set(planted))}; dropped without a kept group member {orphans[:5]}")


def boilerplate_check(kept, planted, hot_floor=4):
    """``dedupExact`` then ``filterBoilerplate`` against the planted
    template documents: every one must go, and any other document that
    goes must belong to a group with at least ``hot_floor`` distinct
    texts (the stage's smallest hot document frequency), whose shared
    shingles can be corpus-frequent. Returns (ok, detail)."""
    sizes = {}
    for g, _ in planted.values():
        sizes[g] = sizes.get(g, 0) + 1
    template = {i for i, (_, kind) in planted.items() if kind == "boilerplate"}
    dropped = set(planted) - kept
    missed = sorted(template - dropped)
    extra = sorted(i for i in dropped - template if sizes[planted[i][0]] < hot_floor)
    ok = kept <= set(planted) and bool(template) and not missed and not extra
    return ok, (f"dropped {len(dropped)}, planted template docs {len(template)}; "
                f"missed {missed[:5]}; dropped outside the template {extra[:5]}")


def corpus_checks(result, facts, seed):
    """Pinned per-stage rows and fold for the seed, the generator's own
    counts, and the two stages the chain order starves checked on their
    own against the planted groups. Returns [(name, ok, detail)]."""
    rows = {k.split(".")[-1]: int(v) for k, v in result["values"].items()
            if k.startswith("pipeline.stage_rows.")}
    got = {"stage_rows": rows, "output_rows": int(result["values"]["pipeline.output_rows"]),
           "fold": result["notes"]["pipeline.fold"]}
    out = [("input_rows_match_generator", rows.get("input") == facts["input_rows"],
            f"{rows.get('input')} vs {facts['input_rows']}"),
           ("dedup_exact_rows_match_distinct_texts",
            rows.get("dedupExact") == facts["distinct_texts"],
            f"{rows.get('dedupExact')} vs {facts['distinct_texts']}"),
           ("dedupNearSimhash_catches_planted_near_copies",
            *near_dup_check(_kept(result, "dedupNearSimhash"), facts["planted"])),
           ("filterBoilerplate_drops_planted_template",
            *boilerplate_check(_kept(result, "filterBoilerplate"), facts["planted"]))]
    pins = json.load(open(os.path.join(HERE, "pins.json")))
    pin = pins.get("corpus_prep", {}).get(str(seed))
    if pin is not None:
        out.append(("pinned_stage_rows_and_fold", pin == got, f"got {got} pinned {pin}"))
    return out


def metric_values(workload, result, setup):
    """Every metric this run can report, by name: (value, unit)."""
    ops = result["ops"]
    kind = PRIMARY[workload]
    primary = [o["ms"] for o in ops if o["kind"] == kind and o["ok"]]
    if not primary:
        fail(f"no successful {kind} operation")
    v = {"setup_s": (statistics.median(setup), "s"),
         "op_p50_ms": (statistics.median(primary), "ms"),
         "peak_rss_mb": (result["peak_rss_mb"], "MB")}
    # named latencies: kind of operation -> metric prefix
    named = {"ref_queries": {"query": "query"},
             "daily_ingest": {"ingest_day": "ingest_day", "lake_query": "lake_query"}}
    for op_kind, prefix in named.get(workload, {}).items():
        xs = [o["ms"] for o in ops if o["kind"] == op_kind and o["ok"]]
        v[f"{prefix}_p50_ms"] = (statistics.median(xs) if xs else None, "ms")
        if prefix == "lake_query":
            continue
        t = stats.tail(xs)
        if t:
            v[f"{prefix}_tail_ms"] = (t[1], f"ms (p{t[0]:.1f} of n={t[2]})")
        else:
            v[f"{prefix}_tail_ms"] = (None, f"ms (n={len(xs)}: under 11 samples)")
    if workload == "daily_ingest":
        v["api_requests_per_day"] = (result["values"]["api_requests_per_day"], "count")
        v["lake_bytes_per_row"] = (result["values"]["lake_bytes_per_row"], "B")
    if workload == "corpus_prep":
        v["corpus_run_s"] = (v["op_p50_ms"][0] / 1000.0, "s")
    return v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    bench_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(bench_path):
        fail("BENCHMARK.json not found: run from the repository root")
    bench = json.load(open(bench_path))
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no program sources under src/main/scala: run from the repository root")
    jars = spark_jars(root)
    classpath = build(root, jars)
    cores = len(os.sched_getaffinity(0))

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(root, ".bench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    phase = {}
    mark = [time.time()]

    def lap(name):
        now = time.time()
        phase[name] = now - mark[0]
        mark[0] = now

    try:
        data = os.path.join(work, "data")
        facts = None
        if a.workload == "ref_queries":
            gen.write_tables(data, a.seed)
        elif a.workload == "corpus_prep":
            facts = gen.write_corpus(data, a.seed)
        os.makedirs(data, exist_ok=True)
        lap("generate")

        setup = [launch(jvm(classpath, work, ["--mode", "setup", "--cores", str(cores)]),
                        work, 60)[0] for _ in range(SETUP_SAMPLES - 1)]
        lap("setup_probes")
        raw = os.path.join(work, "result.json")
        spans = os.path.join(out_dir, f"{tag}.spans.json")
        ready, _ = launch(jvm(classpath, work, [
            "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
            "--data", data, "--work", work, "--out", raw, "--spans", spans]),
            work, RUN_TIMEOUT_S)
        setup.append(ready)
        lap("harness")
        result = json.load(open(raw))

        checks = [(c["name"], c["ok"], c["detail"]) for c in result["checks"]]
        if a.workload == "ref_queries":
            checks += [(f"oracle_{n}", ok, "scripts/oracle_check.py")
                       for n, ok in sorted(oracle_check(root, data, os.path.join(work, "dump")).items())]
        if a.workload == "corpus_prep":
            checks += corpus_checks(result, facts, a.seed)
        lap("checks")
        for name, ok, detail in checks:
            if not ok:
                log(f"check {name} failed: {detail}")
        failed_ops = [o for o in result["ops"] if not o["ok"]]
        attempted = len(result["ops"]) + len(checks)
        failed = len(failed_ops) + sum(1 for _, ok, _ in checks if not ok)

        values = metric_values(a.workload, result, setup)
        values["failed_share"] = (failed / attempted, "share")
        for name, (value, unit) in values.items():
            shown = "n/a" if value is None else f"{value:.4f}"
            print(f"{a.workload} {name} = {shown} {unit}")

        if a.trace:
            layer_src = dict(result["values"])
            layer_src.update(result["layers"])
            metrics = {m["name"]: {"value": float(layer_src.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in bench["per_layer"]}
            for name, m in metrics.items():
                print(f"{a.workload} layer {name} = {m['value']:.4f} {m['unit']}")
        else:
            metrics = {m["name"]: {"value": values[m["name"]][0], "unit": m["unit"]}
                       for m in bench["end_to_end"]}

        artifact = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cores": result["cores"], "host_pre": result["host_pre"],
            "host_post": result["host_post"], "spark_conf": result["spark_conf"],
            "setup_samples_s": setup, "phase_s": phase,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
            "reported": metrics, "checks": checks, "values": result["values"],
            "layers": result["layers"], "notes": result["notes"], "ops": result["ops"],
        }
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump(artifact, f, indent=1)
        if os.path.exists(spans):
            sidecar = json.load(open(spans))
            sidecar.update({k: artifact[k] for k in
                            ("workload", "seed", "cores", "host_pre", "host_post", "spark_conf")})
            with open(spans, "w") as f:
                json.dump(sidecar, f)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
