#!/usr/bin/env python3
"""The graft benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <catalog|lookup|ingest> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine plus the benchmark
program in perfbench/ (once per source tree), generates the seed's inputs
(cached per seed), gives the run fresh, empty index roots, launches the JVM,
checks the outputs, and prints one JSON line: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced run.
Everything it writes stays under .perfbench/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("catalog", "lookup", "ingest")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    for top in ("build.sbt", "src/main/scala", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            yield p
        for d, _, fs in sorted(os.walk(p)):
            for f in sorted(fs):
                yield os.path.join(d, f)


def build(root, state):
    """Compile the engine and the benchmark program once per source tree;
    return the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        fail("no engine sources under src/main/scala/graft: run from a checkout root")
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(state, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = f.read().split("\n", 1)
        if saved[0] == stamp:
            return saved[1].strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(root, "build.sbt")) as f:
        jars = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read()).group(1)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        f"-Dperfbench.jars={jars}", "compile", "export Runtime/fullClasspath"],
                       cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def inputs(state, seed):
    """The seed's inputs, generated once and cached outside the timed region."""
    h = hashlib.sha256()
    for p in (gen.__file__, os.path.join(HERE, "profile.json")):
        with open(p, "rb") as f:
            h.update(f.read())
    version = h.hexdigest()[:12]
    d = os.path.join(state, "data", f"seed-{seed}-{version}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(seed, tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def fresh_root(path):
    """A new, empty index root. Raises if it is not empty."""
    os.makedirs(path, exist_ok=True)
    metrics.assert_empty_root(path)
    return path


def run_jvm(cp, args, run_dir):
    """Launch the benchmark JVM; return (setup seconds, exit code). Set-up is
    JVM start + session start + warm-up: launch until READY."""
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_INDEX_DIR"}
    env["SPARK_LOCAL_DIRS"] = f"{run_dir}/tmp"
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    setup = None
    with open(f"{run_dir}/jvm.log", "w") as log:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
                             text=True, env=env)
        try:
            for line in p.stdout:
                if line.strip() == "PERFBENCH READY" and setup is None:
                    setup = time.perf_counter() - t0
                if time.perf_counter() - t0 > JVM_TIMEOUT_S:
                    break
            p.wait(timeout=max(1, JVM_TIMEOUT_S - (time.perf_counter() - t0)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    return setup, p.returncode


def check_catalog(root, data, run_dir):
    """Hash-compare the catalog outputs with DuckDB through the repository's
    oracle compare; returns {query: failure} for every query that failed."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools/check_oracle.py"), data,
                        f"{run_dir}/oracle"], capture_output=True, text=True, timeout=120)
    bad = {}
    for ln in r.stdout.splitlines():
        m = re.match(r"FAIL (\S+): (.*)", ln)
        if m:
            bad[m.group(1).rstrip(":")] = m.group(2)
    if r.returncode != 0 and not bad:
        bad["check_oracle"] = (r.stdout + r.stderr)[-300:]
    return bad


def check_ingest(data, run_dir):
    """Fits recover the planted shift/rotation and every planted fault lands
    on its flag, for every day the run replicated."""
    import duckdb
    with open(f"{data}/ingest_truth.json") as f:
        truth = json.load(f)
    with open(f"{run_dir}/ingest_days.json") as f:
        days = int(f.read())

    def done(gid):  # glass ids read <tool>-d<day>-g<n>
        return int(gid.split("-")[1][1:]) < days
    con = duckdb.connect()
    base = f"{run_dir}/ingest/rot"
    fits = {g: (sx, sy, th) for g, sx, sy, th in con.sql(
        f"SELECT glassid, shift_x, shift_y, theta_urad FROM read_parquet('{base}/header/*/*.parquet')"
    ).fetchall()}
    flags = dict(con.sql(
        f"SELECT glassid, flag FROM read_parquet('{base}/error/*/*.parquet')").fetchall())
    bad, classes = {}, set()
    for g, (sx, sy, th) in truth["fits"].items():
        if not done(g):
            continue
        got = fits.get(g)
        # 0.05 urad of rotation moves the grid's far corner (250 um out) by
        # 1.25e-5 um, so shifts are held to the same 1e-5
        if got is None or abs(got[0] - sx) > 1e-5 or abs(got[1] - sy) > 1e-5 or abs(got[2] - th) > 0.05:
            bad[f"ingest.fit.{g}"] = f"planted {(sx, sy, th)}, fitted {got}"
    for g, flag in truth["faults"].items():
        if not done(g):
            continue
        classes.add(flag)
        if flags.get(g) != flag:
            bad[f"ingest.fault.{g}"] = f"planted flag {flag}, got {flags.get(g)}"
    for flag in sorted(set(gen.FAULTS) - classes):
        bad[f"ingest.fault_class.{flag}"] = "no glass of this fault class was replicated and checked"
    return bad


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    state = os.path.join(root, ".perfbench")
    os.makedirs(state, exist_ok=True)
    t0 = time.perf_counter()
    cp = build(root, state)
    t_build = time.perf_counter()
    data = inputs(state, a.seed)
    t_inputs = time.perf_counter()
    run_dir = os.path.join(state, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    index = fresh_root(f"{run_dir}/index")
    warm = fresh_root(f"{run_dir}/warm-index")

    setup_s, code = run_jvm(cp, [a.workload, data, str(a.seconds), str(a.trace), run_dir, index, warm],
                            run_dir)
    if code != 0 or setup_s is None or not os.path.exists(f"{run_dir}/result.json"):
        with open(f"{run_dir}/jvm.log") as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"benchmark JVM exited with {code}")
    with open(f"{run_dir}/result.json") as f:
        res = json.load(f)
    t_jvm = time.perf_counter()

    wrong = {k: v for k, v in res["gate"].items() if v != "ok"}
    wrong_kinds = set()
    if a.workload == "catalog":
        bad = check_catalog(root, data, run_dir)
        wrong.update({f"oracle.{q}": v for q, v in bad.items()})
        wrong_kinds = set(bad)
    if a.workload in ("catalog", "lookup") and os.listdir(index):
        wrong["index_root"] = f"read-only workload left {os.listdir(index)} in the index root"
    if a.workload == "ingest":
        wrong.update(check_ingest(data, run_dir))

    failed = sum(1 for o in res["ops"] if not o["ok"] or o["kind"] in wrong_kinds)
    if a.trace:
        out = metrics.per_layer(res)
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        shutil.copy(f"{run_dir}/spans.json",
                    os.path.join(state, "traces", f"{a.workload}-{a.seed}-spans.json"))
    else:
        out = metrics.end_to_end(res, setup_s)
        print(f"perfbench: {a.workload} latency {metrics.latency_summary(res)}", file=sys.stderr)
    for k, v in sorted(wrong.items()):
        print(f"perfbench: wrong: {k}: {v}", file=sys.stderr)
    print(f"perfbench: seconds build {t_build - t0:.1f}, inputs {t_inputs - t_build:.1f}, "
          f"jvm {t_jvm - t_inputs:.1f}, checks {time.perf_counter() - t_jvm:.1f}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not wrong and failed == 0, "attempted": len(res["ops"]), "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
