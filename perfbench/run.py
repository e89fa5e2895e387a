#!/usr/bin/env python3
"""The p6spark benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the harness
from source (once per source state, into ``.bench_build/``), generates
the workload's inputs from the seed, runs one JVM of ``perfbench.Harness``,
checks every unit's outputs, and prints one JSON headline as the last
stdout line: the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``). The full record (per unit, per span, per
registry entry, box noise) goes to ``.bench_build/results/``.

A run is one closed-loop client in one JVM, ``local[N]`` with N = the
machine's cores: set-up, one cold unit, then the warm unit(s). With
``--trace 0`` one more JVM only sets up, so ``setup_s`` is a median of
two start-ups. A run costs about a minute at most: a benchmark pass
(4 + 22 runs per workload) must fit in under an hour.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# A run measures --seconds / SECONDS_PER_WARM_UNIT warm units (at least
# one; the count does not depend on the machine's speed). One is the
# default: the second warm unit in a JVM still moves by up to a third
# with the JIT's progress, the first repeats within ~6% across seeds.
SECONDS_PER_WARM_UNIT = 20.0
SETUP_ONLY_JVMS = 1     # extra start-up per untraced run: setup_s is a median of 2
RUN_DEADLINE_S = 170    # every JVM of a run must have ended by then

REGISTRY_ENTRIES = [
    "p6_genotype_pipeline", "p6_phenotype_pipeline", "p6_patient_bundles",
    "p6_issue_channel", "p6_scalar_fns", "p6_chrom_email_hgvs", "p6_header_normalize",
    "p6_ontology_closure", "p6_disease_pipeline", "p6_measurement_pipeline",
    "p6_biosample_pipeline", "p6_phenopacket_json", "p6_term_checks",
    "p6_batch_validate", "p6_workbooks_distributed",
]

WORKLOADS = {
    "clinical_validation_heavy": "clinical",
    "registry_p6": "registry",
}

# The headline's end-to-end metrics. cold_wall_s and the memory peaks are
# in the record only: across seeds they spread by more than a tenth.
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("items_per_s", "1/s")]
PER_LAYER = [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
             ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
             ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
             ("spark.plan_ms", "ms"), ("spark.driver_gap_s", "s"),
             ("spark.core_busy_share", "share"), ("spark.codegen_compile_ms", "ms"),
             ("trace.overhead_s", "s"), ("trace.unaccounted_s", "s")]

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_to_end(cmd, timeout, **kw):
    """Run ``cmd`` in its own process group; on timeout kill the whole
    group. Always waits for the process. Returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(1.0, timeout))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return -9, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt when the sources changed."""
    stamp_path = os.path.join(BUILD, "stamp")
    cp_path = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_path) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                with open(cp_path) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
            if os.path.exists(repos) else "")
    log("building (sbt compile) ...")
    t = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        rc, out = run_to_end(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"], 850, cwd=HERE, env=env,
                             stdout=subprocess.PIPE, stderr=logf, text=True)
        logf.write(out or "")
    cps = [l for l in (out or "").splitlines()
           if "sbt-target" in l and ":" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail("build failed (see .bench_build/build.log)")
    log("built in %.1f s" % (time.time() - t))
    with open(cp_path, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


# ---------------------------------------------------------------- box noise

def box_probe():
    """A fixed CPU probe and the load average (report-only)."""
    buf = bytes(range(256)) * 4096
    t = time.perf_counter()
    for _ in range(64):
        hashlib.sha256(buf).digest()
    return {"probe_s": time.perf_counter() - t, "loadavg": list(os.getloadavg())}


# ---------------------------------------------------------------- JVM runs

def run_jvm(classpath, cfg, work, deadline):
    os.makedirs(work, exist_ok=True)
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Dfile.encoding=UTF-8", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness", cfg_path]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cfg["cores"]),
               SPARK_MASTER="local[%d]" % cfg["cores"])
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        rc, _ = run_to_end(cmd, deadline - time.time(), cwd=work, env=env,
                           stdout=logf, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(cfg["out"]):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        return {"ok": False, "error": "jvm exit %s" % rc, "log_tail": tail}
    with open(cfg["out"]) as f:
        out = json.load(f)
    out["ok"] = True
    out["setup_s"] = out["ready_epoch_ms"] / 1000.0 - t0
    return out


# ---------------------------------------------------------------- checks

def parse_cli_stdout(text):
    got = {}
    m = re.search(r"Wrote (\d+) phenopacket files", text)
    got["patients"] = int(m.group(1)) if m else None
    for kind, key in (("Genotype", "genotypes"), ("Phenotype", "phenotypes")):
        m = re.search(r"Created (\d+) %s objects" % kind, text)
        got[key] = int(m.group(1)) if m else None
    issues = {"error": 0, "warning": 0}
    level = None
    for line in text.splitlines():
        if line.startswith("Errors found in mapping:"):
            level = "error"
        elif line.startswith("Warnings found in mapping:"):
            level = "warning"
        elif line.startswith("Created ") or line.startswith("Wrote "):
            level = None
        elif level and line.startswith("- "):
            more = re.match(r"- … and (\d+) more", line)
            issues[level] += int(more.group(1)) if more else 1
    got["issues"] = issues
    return got


def check_clinical_unit(unit, manifest, digest):
    """Problems with one parse-excel unit (empty list when correct)."""
    if not unit.get("ok"):
        return ["unit failed: %s" % unit.get("error")]
    want = manifest["counts"]
    got = parse_cli_stdout(unit["stdout"])
    bad = []
    for k in ("patients", "genotypes", "phenotypes"):
        if got[k] != want[k]:
            bad.append("%s: got %s, generated %s" % (k, got[k], want[k]))
    if unit.get("files_written") != want["patients"]:
        bad.append("files written %s != patients %s" % (unit.get("files_written"), want["patients"]))
    if got["issues"] != manifest["issues"]:
        bad.append("issues %s != planted %s" % (got["issues"], manifest["issues"]))
    lc = unit.get("layer_counts")
    if lc and (lc["p6.issues.rows_error"], lc["p6.issues.rows_warning"]) != (
            manifest["issues"]["error"], manifest["issues"]["warning"]):
        bad.append("traced issue counts %s != planted %s" % (lc, manifest["issues"]))
    if digest is not None and unit.get("packets_sha256") != digest:
        bad.append("packet digest differs between units")
    return bad


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops the JVM it started (see run_to_end)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a p6spark checkout (src/main/scala/graft not found)")
    kind = WORKLOADS[a.workload]
    classpath = build()
    deadline = time.time() + RUN_DEADLINE_S
    cores = os.cpu_count() or 1

    run_id = "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, int(time.time() * 1000))
    inputs = os.path.join(BUILD, "inputs", run_id)
    work = os.path.join(BUILD, "work", run_id)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "cores": cores}
    try:
        t = time.time()
        if kind == "clinical":
            manifest = gen.make_clinical(a.seed, a.workload, inputs)
            base_cfg = {"kind": "clinical", "corpus_dir": os.path.join(inputs, "corpus"),
                        "hpo": os.path.join(inputs, "hp.json")}
        else:
            manifest = gen.make_registry(a.seed, inputs)
            base_cfg = {"kind": "registry", "registry_dir": inputs,
                        "entries": seeded_order(REGISTRY_ENTRIES, a.seed)}
        record["generate_s"] = time.time() - t
        record["manifest"] = manifest
        record["box_before"] = box_probe()
        warm = max(1, int(round(a.seconds / SECONDS_PER_WARM_UNIT)))
        # traced runs order warm units untraced, traced, traced, untraced
        cfg = dict(base_cfg, cores=cores, traced=bool(a.trace),
                   warm_units=4 * warm if a.trace else warm,
                   work_dir=os.path.join(work, "jvm"), out=os.path.join(work, "jvm.json"))
        record["jvm"] = run_jvm(classpath, cfg, cfg["work_dir"], deadline)
        record["setups"] = [run_jvm(classpath, {"kind": "setup", "cores": cores,
                                                "work_dir": os.path.join(work, "setup%d" % k),
                                                "out": os.path.join(work, "setup%d.json" % k)},
                                    os.path.join(work, "setup%d" % k), deadline)
                            for k in range(0 if a.trace else SETUP_ONLY_JVMS)]
        record["box_after"] = box_probe()
    finally:
        shutil.rmtree(inputs, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    correct, attempted, failed, problems = evaluate(kind, record, manifest)
    record["problems"] = problems
    layers = summarize(kind, record, manifest)
    record["summary"] = layers
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    path = os.path.join(BUILD, "results", run_id + ".json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    log("full record: " + os.path.relpath(path, ROOT))
    for p in problems[:20]:
        log("check failed: " + p)

    wanted = PER_LAYER if a.trace else END_TO_END
    values = layers["per_layer" if a.trace else "end_to_end"]
    out = {name: (values.get(name), unit) for name, unit in wanted}
    if any(v is None for v, _ in out.values()):
        correct = False
        out = {k: (v if v is not None else 0.0, u) for k, (v, u) in out.items()}
    print(M.headline(correct, attempted, failed, out))


def seeded_order(xs, seed):
    import random
    ys = list(xs)
    random.Random(seed).shuffle(ys)
    return ys


def evaluate(kind, record, manifest):
    """(correct, attempted, failed, problems) over every unit of the run.

    An operation is a parse-excel unit (clinical) or one registry entry."""
    jvm = record["jvm"]
    if not jvm.get("ok"):
        return False, 1, 1, ["jvm: %s" % jvm.get("error")]
    attempted = failed = 0
    problems = []
    digest = None
    for u in jvm["units"]:
        if kind == "clinical":
            attempted += 1
            if digest is None and u.get("ok"):
                digest = u.get("packets_sha256")
            bad = check_clinical_unit(u, manifest, digest)
        else:
            entries = u.get("entries", [])
            attempted += max(1, len(entries))
            bad = ["%s: %s" % (e["name"], e.get("error")) for e in entries if not e["ok"]]
            if not entries:
                bad = ["no entries ran: %s" % u.get("error")]
        if bad:
            failed += 1 if kind == "clinical" else len(bad)
            problems += ["unit%d: %s" % (u["index"], b) for b in bad]
    record["packets_sha256"] = digest
    return failed == 0, max(attempted, 1), failed, problems


def summarize(kind, record, manifest):
    jvm = record["jvm"]
    if not jvm.get("ok"):
        return {"end_to_end": {}, "per_layer": {}}
    units = [u for u in jvm["units"] if u.get("ok")]
    warm = [u for u in units if u["index"] > 0 and not u["traced"]]
    warm_traced = [u for u in units if u["index"] > 0 and u["traced"]]
    cold = [u for u in units if u["index"] == 0]
    items = manifest["counts"]["patients"] if kind == "clinical" else len(REGISTRY_ENTRIES)
    wall = M.median([u["wall_s"] for u in warm])
    e2e = {
        "setup_s": M.median([j["setup_s"] for j in [jvm] + record["setups"] if j.get("ok")]),
        "wall_s": wall,
        "cold_wall_s": cold[0]["wall_s"] if cold else None,
        "items_per_s": items / wall if wall else None,
        "peak_rss_mb": jvm["peak_rss_kb"] / 1024.0,
    }
    out = {"end_to_end": e2e, "samples": {"warm": len(warm), "warm_traced": len(warm_traced)},
           "wall_tail": M.tail_percentile([u["wall_s"] for u in warm])}
    if kind == "registry":
        per_entry = [e["wall_s"] for u in warm for e in u["entries"]]
        out["entries"] = {"samples": len(per_entry), "p50_s": M.median(per_entry),
                          "tail": M.tail_percentile(per_entry)}
    traced_cold = [u for u in cold if u["traced"]]
    if warm_traced:
        rows = []
        for u in warm_traced:
            tr = u["trace"]
            row = M.spark_totals(tr)
            row.update(M.clinical_layers(tr, u) if kind == "clinical" else M.registry_layers(tr))
            row["trace.accounted_s"] = M.accounted_s(tr)
            row["trace.unaccounted_s"] = u["wall_s"] - row["trace.accounted_s"]
            rows.append(row)
        layer = {k: M.median([r[k] for r in rows]) for k in rows[0]}
        if traced_cold:
            layer["spark.codegen_compile_ms"] = M.median(
                [u["trace"]["codegen_compile_ms"] for u in traced_cold])
        traced_wall = M.median([u["wall_s"] for u in warm_traced])
        layer["trace.overhead_s"] = traced_wall - wall if wall else None
        if kind == "registry":
            layer["registry.entry_p50_s"] = out["entries"]["p50_s"]
            tail = out["entries"]["tail"]
            layer["registry.entry_tail_p"] = tail[0] if tail else None
            layer["registry.entry_tail_s"] = tail[1] if tail else None
        out["per_layer"] = layer
        last = warm_traced[-1]["trace"]
        out["per_span"] = M.per_span(last)
        out["call_sites"] = M.call_sites(last)
    else:
        out["per_layer"] = {}
    return out


if __name__ == "__main__":
    main()
