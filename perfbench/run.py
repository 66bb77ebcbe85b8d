#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: two closed-loop workloads, one
client each, driven from one JVM per run (see README.md in this directory).

  python3 perfbench/run.py --workload <gates_core|bag_import>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt and prepares inputs; later runs reuse both.
The last line of standard output is the result object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics of an untraced timed loop;
--trace 1 adds one traced pass and reports the per-layer metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")

sys.path.insert(0, HERE)
import bagextract  # noqa: E402

# The reference's own FK and merge operators, plus the ROADMAP's heaviest
# eager-barrier gate; DataFrame construction and scheduling dominate.
GATES_CORE = [
    "q04_semijoin_fk", "q05_fk_violations", "q06_deleted_audit", "q07_merge_scd2",
    "q305_kendall_tall",
]
WORKLOADS = ("gates_core", "bag_import")
# bag_import: a woonplaats -> openbare_ruimte FK chain and pand
BAG_TABLES = ["woonplaats", "openbare_ruimte", "pand"]
BAG_N = 50000          # nummeraanduiding entities; pand has 0.3 n
ABORT_TABLE = "woonplaats"
HEAP = "3g"
# The harness is stopped if it runs longer than --seconds plus this margin:
# about three times the part of a traced run that does not scale with
# --seconds (set-up, the minimum passes, the traced pass), which took
# ~45 s (gates_core) and ~90 s (bag_import) on a 4-core host.
MARGIN_S = {"gates_core": 150, "bag_import": 300}

END_TO_END = {"setup_s": "s", "pass_s": "s"}
PER_LAYER = {
    "queries.build_s": "s", "queries.eager_jobs": "count", "queries.eager_job_s": "s",
    "plans.analyze_s": "s", "plans.optimize_s": "s", "plans.physical_s": "s",
    "plans.nodes": "count", "plans.exchanges": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.tasks_per_job": "ratio", "sched.driver_only_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.max_task_s": "s",
    "exec.core_util": "ratio", "exec.max_task_mem_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "sources.input_mb": "MB", "sources.read_amp": "ratio",
    "pipeline.validate_s": "s", "pipeline.merge_s": "s", "pipeline.commit_s": "s",
    "pipeline.recount_s": "s", "pipeline.driver_s": "s", "pipeline.jobs": "count",
    "pipeline.write_mb": "MB", "pipeline.rows_rewritten_per_changed_row": "ratio",
    "pipeline.load_s": "s", "pipeline.reimport_s": "s", "pipeline.empty_dir_load_s": "s",
    "pipeline.unaccounted_rows": "count", "jvm.peak_rss_mb": "MB",
    "setup.session_s": "s", "setup.prepare_s": "s",
    "trace.overhead": "ratio",
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log_path(name):
    os.makedirs(WORK, exist_ok=True)
    return os.path.join(WORK, name)


def run_logged(cmd, log, cwd=ROOT, env=None, timeout=None):
    with open(log, "w") as f:
        p = subprocess.run(cmd, cwd=cwd, env=env, stdout=f, stderr=subprocess.STDOUT,
                           timeout=timeout)
    if p.returncode != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        die(f"{' '.join(cmd[:3])} ... failed ({p.returncode}); log {log}:\n{tail}")


# ------------------------------------------------------------------ build

def read_text(path):
    with open(path) as f:
        return f.read()


def source_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, subdirs, files in sorted(os.walk(top)):
            subdirs.sort()
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    return env


def build():
    """Compile the program and the harness, then prepare what every later
    run reuses: the BAG table specs, the committed bag_import base, and
    the program's fixture roots for the gate testdata. Done once per
    source state, in the first run of a checkout. Returns (classpath,
    BAG table specs)."""
    stamp = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    spec_file = os.path.join(BUILD, "bagspec.json")
    digest = source_digest()
    fresh = os.path.exists(stamp) and read_text(stamp) == digest
    if not fresh:
        run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                   log_path("build.log"), cwd=HERE, env=sbt_env(), timeout=600)
    with open(cp_file) as f:
        cp = f.read().strip()
    if not fresh:
        run_logged(java(cp, ["describe", spec_file]), log_path("describe.log"), env=jvm_env())
        with open(spec_file) as f:
            specs = json.load(f)["tables"]
        shutil.rmtree(os.path.join(WORK, "inputs"), ignore_errors=True)
        bag_base(cp, specs)
        run_logged(java(cp, ["prewarm", testdata_dir(), log_path("prewarm")]),
                   log_path("prewarm.log"), env=jvm_env(), timeout=400)
        with open(stamp, "w") as f:
            f.write(digest)
    with open(spec_file) as f:
        return cp, json.load(f)["tables"]


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(cp, args, main="graft.perfbench.Harness"):
    tmp = log_path("tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main, *args]


def jvm_env():
    """The program's SPARK_GRAFT_* knobs are cleared so that every run plans
    the same way whatever the caller's environment holds."""
    return {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}


# ----------------------------------------------------------------- inputs

def testdata_dir(sf="0.1"):
    """The fixed testdata directory for `sf`, as TESTDATA.md lists it."""
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            for line in f:
                cells = [c.strip(" `") for c in line.split("|")]
                if len(cells) > 2 and cells[1] == sf:
                    d = cells[2].rstrip("/")
                    if os.path.isdir(d):
                        return d
    except OSError:
        pass
    die(f"testdata for sf{sf} not found (TESTDATA.md)")


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs)


def generator_key():
    """Inputs are reused only while the generator and its size are unchanged."""
    with open(os.path.join(HERE, "bagextract.py"), "rb") as f:
        h = hashlib.sha256(f.read() + json.dumps([BAG_N, BAG_TABLES]).encode())
    return f"n{BAG_N}_{h.hexdigest()[:10]}"


def bag_base(cp, specs):
    """The committed snapshots of a base extract of every table (fixed
    seed), imported in its own JVM; every re-import starts from a copy.
    Returns (base dir, committed snapshots dir)."""
    base = os.path.join(WORK, "inputs", f"bag_base_{generator_key()}")
    out = os.path.join(base, "committed")
    done = os.path.join(base, "_PERFBENCH_DONE")
    if not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
        expected = bagextract.generate_base(specs, BAG_N, base)
        result = os.path.join(base, "import.json")
        run_logged(java(cp, ["import", os.path.join(base, "extract"), out, result]),
                   log_path("bag_base.log"), env=jvm_env(), timeout=600)
        with open(result) as f:
            outcomes = json.load(f)["outcomes"]
        bad = [o for o in outcomes if o[0] in expected
               and not table_ok(o[1:], expected[o[0]], expected[o[0]]["ragged"])[0]]
        if bad:
            die(f"base import does not match the generator: {bad}")
        open(done, "w").close()
    return base, out


def bag_inputs(specs, base, seed):
    """Generated once per seed and size."""
    out = os.path.join(WORK, "inputs", f"bag_s{seed}_{generator_key()}")
    done = os.path.join(out, "expected.json")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        bagextract.generate(specs, BAG_TABLES, seed, BAG_N, out, base, ABORT_TABLE)
    with open(done) as f:
        return out, json.load(f)


# ---------------------------------------------------------------- checks

def table_ok(outcome, want, ragged):
    """(ok, unaccounted rows) of one table import. Ragged rows are
    malformed and belong in `rejected`; while the program drops them from
    both counts (a known defect) the import still passes, and the gap is
    reported as pipeline.unaccounted_rows. An aborted import loads
    nothing, so its gap is not measured and counts as 0."""
    loaded, rejected, errors, skipped = outcome
    if "aborted" in want:
        return (errors == [want["aborted"]] and loaded == 0
                and rejected in (want["rejected"], want["rejected"] + ragged)), 0
    gap = want["input"] - loaded - rejected
    ok = not errors and not skipped and loaded == want["loaded"] and gap in (0, ragged)
    return ok and rejected + gap == want["rejected"] + ragged, gap


def check_bag(res, expected):
    """One op per table import per phase: it fails if its outcome differs
    from the generator's expectation; the aborting re-import also fails if
    the committed snapshot changed. A traced run's load into an empty
    output dir is checked as one more load phase. Returns (attempted,
    failures, unaccounted rows of the last iteration)."""
    phases = [(it, phase) for it in res["iterations"] for phase in ("load", "reimport")]
    if "empty_load" in res:
        phases.append(({"load": res["empty_load"]}, "load"))
    failures, attempted, gaps = [], 0, {}
    for it, phase in phases:
        outcomes = {o[0]: o[1:] for o in it[phase]}
        for name, exp in expected["tables"].items():
            attempted += 1
            want = exp[phase]
            ok, gap = (table_ok(outcomes[name], want, want["ragged"])
                       if name in outcomes else (False, 0))
            if "aborted" in want:
                ok = ok and it["abort_snapshot_identical"]
            if not ok:
                failures.append(f"{phase} {name}: {outcomes.get(name)}, expected {want}")
            if it is res["iterations"][-1]:
                gaps[(phase, name)] = gap
    return attempted, failures, sum(gaps.values())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"{ROOT} is not a checkout of the program (no build.sbt or src/)")

    cp, specs = build()
    work = log_path(f"run_{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    args = ["run", "--workload", "bag" if a.workload == "bag_import" else "gates",
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--out", result_file]
    expected = None
    if a.workload == "gates_core":
        sf_dir = testdata_dir()
        with open(os.path.join(HERE, "gate_rows.json")) as f:
            rows = json.load(f)
        args += [x for g in GATES_CORE for x in ("--gate", f"{g}={sf_dir}")]
        args += [x for g, n in rows.items() for x in ("--rows", f"{g}={n}")]
        args += ["--prewarm", sf_dir, "--input-bytes", str(dir_bytes(sf_dir))]
    else:
        base, committed = bag_base(cp, specs)  # already made by build()
        data, expected = bag_inputs(specs, base, a.seed)
        args += ["--load", os.path.join(data, "load"),
                 "--reimport", os.path.join(data, "reimport"),
                 "--base", committed, "--abort-table", ABORT_TABLE,
                 *[x for t in BAG_TABLES for x in ("--table", t)],
                 "--changed-rows", str(expected["changed_rows"]),
                 "--input-bytes", str(dir_bytes(os.path.join(data, "load"))
                                      + dir_bytes(os.path.join(data, "reimport")))]
    budget = a.seconds + MARGIN_S[a.workload]
    try:
        run_logged(java(cp, args), os.path.join(work, "harness.log"), env=jvm_env(),
                   timeout=budget)
    except subprocess.TimeoutExpired:
        die(f"harness did not finish within {budget:.0f} s")
    with open(result_file) as f:
        res = json.load(f)

    failures = list(res.get("failures", []))
    attempted = res.get("attempted", 0)
    unaccounted = 0
    if expected is not None:
        n, fails, unaccounted = check_bag(res, expected)
        attempted += n
        failures += fails
        pass_s = res["load_s"] + res["reimport_s"]
    else:
        pass_s = statistics.median(res["pass_s"])
    if failures:
        print("\n".join(failures[:20]), file=sys.stderr)

    if a.trace:
        layers = dict(res["layers"])
        bag = expected is not None
        # the timed (first) iteration, as in pass_s
        layers["pipeline.load_s"] = res["load_s"] if bag else 0.0
        layers["pipeline.reimport_s"] = res["reimport_s"] if bag else 0.0
        layers["pipeline.unaccounted_rows"] = float(unaccounted)
        layers["pipeline.empty_dir_load_s"] = res.get("empty_load_s", 0.0)
        layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        layers["setup.session_s"] = res["setup_session_s"]
        layers["setup.prepare_s"] = res["setup_prepare_s"]
        with open(os.path.join(work, "ledger.json"), "w") as f:
            json.dump({"workload": a.workload, "layers": layers, "ledger": res["ledger"]},
                      f, indent=1, sort_keys=True)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": res["setup_s"], "pass_s": pass_s}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
