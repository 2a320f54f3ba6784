#!/usr/bin/env python3
"""Directory-hash benchmark.

    python3 hashbench/run.py --workload bigfiles|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. It builds the program and the benchmark's
JVM side from source (first run only), generates the workload's trees from
the seed under `.hashbench/`, computes every expected hash with the
independent oracle in `oracle.py`, reads every tree once so the page cache
is warm, and then measures a closed loop of operations (one client, each
operation starts when the previous one has finished) for `--seconds`.

Workloads:
  bigfiles  hash a ~1 GiB tree of five large files plus one empty and one
            small file, blake2b at 32M blocks: digesting dominates.
  ingest    a series of ~2,000-file datasets with heavy-tailed sizes, each
            hashed (sha256, 128M), archived under its hash with a symlink
            left behind, and verified by name: listing, planning, per-file
            opens and per-job fixed cost dominate.

Both also run two small probe datasets, untimed, that keep the known
file-name defects in view: non-ASCII names and a ':' in a name.

With `--trace 1` the loop lasts twice `--seconds`: every other operation
is traced (a SparkListener is registered for it and its layers are read
out) and the ones between run untraced, so that the tracing overhead is
the traced minus the untraced time of the same run. The per-layer metrics
come from the traced operations only.

Only the last stdout line is the result; the lines above it are a
readable report. Disk behaviour is not measured: trees are read from the
page cache.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".hashbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = {
    # algorithm, block size
    "bigfiles": ("blake2b", "32M"),
    "ingest": ("sha256", "128M"),
}
# A run starts SETUP_SAMPLES driver JVMs one after another; each is one
# set-up sample (JVM start to a warmed session). The last one then settles
# and measures the closed loop.
SETUP_SAMPLES = 2
BIGFILES_BYTES = 1 << 30
INGEST_POOL = 10          # datasets per untraced run; a faster program may use all
WARM_FILES = 300          # ingest warm-up dataset; the settle one is full size
# untimed hashes before the loop; ingest's per-hash code paths take more
# calls than bigfiles' digest loop to reach their settled speed
SETTLE = {"bigfiles": 3, "ingest": 8}
PROBE_FILES = 200
JVM_TIMEOUT = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[hashbench] " + msg, file=sys.stderr, flush=True)


def run_proc(cmd, timeout, cwd=None, env=None, stdout=subprocess.PIPE, stderr=None):
    """Runs `cmd` in its own process group; on timeout the whole group is
    killed and reaped, so no JVM outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def source_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program + benchmark once per source state; returns the
    runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft", "hashbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit("hashbench: %s not found; run from a checkout of "
                             "the repository root" % need)
    stamp = os.path.join(WORK, "build", "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building program and benchmark with sbt (first run only)")
    t0 = time.time()
    tmp = os.path.join(WORK, "build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's temporary files and its server socket stay in the checkout too
    rc, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "-Djava.io.tmpdir=" + tmp,
                        "-J-XX:-UsePerfData", "compile",
                        "export hashbench/Runtime/fullClasspath"],
                       timeout=850, cwd=HERE, env=env, stderr=subprocess.STDOUT)
    lines = [ln for ln in out.splitlines() if "hashbench/target" in ln and ":" in ln
             and not ln.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit("hashbench: build failed (sbt exit %d)" % rc)
    log("build took %.1f s" % (time.time() - t0))
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def make_writable(path):
    for d, dirs, files in os.walk(path):
        for name in dirs + files:
            p = os.path.join(d, name)
            if not os.path.islink(p):
                os.chmod(p, 0o755 if name in dirs else 0o644)
    if os.path.isdir(path):
        os.chmod(path, 0o755)


def remove_tree(path):
    if os.path.lexists(path):
        make_writable(path)
        shutil.rmtree(path)


def launch_env():
    """The environment this benchmark was started with. Python's locale
    coercion (PEP 538) sets LC_CTYPE=C.UTF-8 in its own environment when
    started under the C/POSIX locale; the JVM must see the caller's locale
    instead, since the program's file-name decoding depends on it."""
    env = dict(os.environ)
    with open("/proc/self/environ", "rb") as f:
        initial = {kv.split(b"=", 1)[0] for kv in f.read().split(b"\0") if b"=" in kv}
    if b"LC_CTYPE" not in initial:
        env.pop("LC_CTYPE", None)
    return env


def make_tree(path, maker, kwargs, algo, bs):
    """Generates one tree; returns its oracle hash string and its stats."""
    os.makedirs(path)
    stats = getattr(gen, maker)(path, **kwargs)
    t0 = time.time()
    expected = oracle.hash_string(path, algo, bs)
    return expected, dict(stats, oracle_s=round(time.time() - t0, 3))


def cpu_steal_s():
    """CPU time the hypervisor gave to others, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def nproc():
    return len(os.sched_getaffinity(0))


class Run:
    def __init__(self, args, classpath):
        self.args = args
        self.classpath = classpath
        self.algo, self.bs = WORKLOADS[args.workload]
        self.dir = os.path.join(WORK, "run-%s-%d-%d" % (args.workload, args.seed, os.getpid()))
        self.trees = os.path.join(self.dir, "trees")
        self.archive = os.path.join(self.dir, "archive")
        self.plan = []          # (role, op, path, owner JVM)
        self.expected = {}      # path -> oracle hash string
        self.inputs = {}        # path -> tree stats
        os.makedirs(self.trees)
        os.makedirs(self.archive)

    def generate(self):
        """Writes every tree of the run and computes its expected hash with
        the oracle, in a few worker processes."""
        seed, w = self.args.seed, self.args.workload
        main = SETUP_SAMPLES - 1
        todo = []  # (role, op, name, owner JVM or None for all, maker, args)
        if w == "bigfiles":
            todo.append(("warm", "hash", "warm", None, "bigfiles",
                         dict(seed=seed, total=96 << 20)))
            todo += [("settle", "hash", "warm", main, None, None)] * SETTLE[w]
            todo.append(("op", "hash", "big", main, "bigfiles",
                         dict(seed=seed, total=BIGFILES_BYTES)))
        else:
            todo.append(("warm", "hash", "warm", None, "dataset",
                         dict(seed=seed, index="warm", n_files=WARM_FILES)))
            todo.append(("settle", "hash", "settle", main, "dataset",
                         dict(seed=seed, index="settle")))
            todo += [("settle", "hash", "settle", main, None, None)] * (SETTLE[w] - 1)
            # a traced run's loop lasts twice as long
            for k in range(INGEST_POOL * (1 + self.args.trace)):
                todo.append(("op", "ingest", "ds-%03d" % k, main, "dataset",
                             dict(seed=seed, index=k)))
        for kind in ("unicode", "colon"):
            todo.append(("probe", "ingest", "probe-" + kind, main, "dataset",
                         dict(seed=seed, index="probe", kind=kind, n_files=PROBE_FILES)))
        with ProcessPoolExecutor(min(4, nproc())) as pool:
            # a maker of None re-uses a tree made by an earlier entry
            futures = [maker and pool.submit(make_tree, os.path.join(self.trees, name),
                                             maker, kw, self.algo, self.bs)
                       for _, _, name, _, maker, kw in todo]
            for (role, op, name, owner, _, _), fut in zip(todo, futures):
                path = os.path.join(self.trees, name)
                if fut:
                    self.expected[path], self.inputs[path] = fut.result()
                self.plan.append((role, op, path, owner))

    def jvm(self, j, mode, trace):
        """Runs driver JVM `j` over its part of the plan."""
        plan = os.path.join(self.dir, "plan-%d.tsv" % j)
        with open(plan, "w", encoding="utf-8") as f:
            for role, op, p, owner in self.plan:
                if owner in (None, j):
                    f.write("\t".join([role, op, p, self.algo, self.bs, self.expected[p]]) + "\n")
        spawn = time.time()
        recs = run_java(self.classpath, self.dir,
                        [mode, plan, str(self.args.seconds), str(trace),
                         self.archive, os.path.join(self.dir, "spans.jsonl")],
                        JVM_TIMEOUT)
        s = recs["SETUP"][0]
        s["setup_s"] = s["ready_epoch_ms"] / 1e3 - spawn
        s["jvm_ms"] = s["main_epoch_ms"] - spawn * 1e3
        if recs["END"][0]["first_job_epoch_ms"]:
            s["first_job_ms"] = recs["END"][0]["first_job_epoch_ms"] - spawn * 1e3
        return recs


def run_java(classpath, workdir, args, timeout):
    """Runs hashbench.BenchMain with `args`, keeping every file it writes
    under `workdir`; returns its result lines as {tag: [record, ...]}."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + os.path.join(workdir, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(workdir, "warehouse"),
        "-Djava.io.tmpdir=" + os.path.join(workdir, "tmp"),
        "-cp", classpath, "hashbench.BenchMain"] + args
    env = dict(launch_env(), SPARK_GRAFT_CPUS=str(nproc()))
    logf = os.path.join(workdir, "jvm-%s.log" % os.path.basename(args[1]))
    with open(logf, "w") as err:
        rc, out = run_proc(cmd, timeout, cwd=workdir, env=env, stderr=err)
    recs = {}
    for line in out.splitlines():
        tag, _, body = line.partition(" ")
        if tag.isupper() and body.startswith("{"):
            recs.setdefault(tag, []).append(json.loads(body))
    if rc != 0 or "END" not in recs:
        with open(logf) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("hashbench: JVM (%s) exited %d" % (args[0], rc))
    return recs


def check_op(op, expected):
    """None if the operation's outputs are right, else what was wrong."""
    if not op["ok"]:
        return op["error"]
    if op["hash"] != expected:
        return "hash %s != oracle %s" % (op["hash"], expected)
    if "verify_match" in op:
        hexd = expected.rsplit("-", 1)[1]
        if not (op["verify_match"] and op["verify_hash"] == hexd):
            return "verify-by-name did not match"
        if not op["link_ok"] or not op["archived_path"].endswith("/" + expected):
            return "archive or symlink wrong: %s" % op["archived_path"]
    return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    for stale in os.listdir(WORK):
        if stale.startswith("run-"):
            remove_tree(os.path.join(WORK, stale))
    start = (os.getloadavg()[0], cpu_steal_s())
    run = Run(args, classpath)
    try:
        t0 = time.time()
        run.generate()
        gen_s = time.time() - t0
        setups = [run.jvm(j, "setup", 0)["SETUP"][0] for j in range(SETUP_SAMPLES - 1)]
        recs = run.jvm(SETUP_SAMPLES - 1, "run", args.trace)
        recs["SETUP"] = setups + recs["SETUP"]
        report(args, run, recs, gen_s, start)
    finally:
        remove_tree(run.dir)


def report(args, run, recs, gen_s, start):
    setups = recs["SETUP"]
    attempted = failed = 0
    timed, probes = [], []
    for op in recs["OP"]:
        problem = check_op(op, run.expected[op["path"]])
        op["problem"] = problem
        if op["role"] == "probe":
            probes.append(op)
            continue
        if problem:
            log("%s op %s failed: %s" % (op["role"], op["path"], problem))
        if op["role"] == "op":
            attempted += 1
            failed += problem is not None
            if problem is None:
                op["tree"] = run.inputs[op["path"]]
                timed.append(op)
    warm_ok = all(op["problem"] is None for op in recs["OP"] if op["role"] in ("warm", "settle"))
    correct = attempted > 0 and failed == 0 and warm_ok
    if any(lp["pool_exhausted"] for lp in recs["LOOP"]):
        log("dataset pool used up before --seconds ran out")

    # every directory hash in the loop is a sample: for ingest both the
    # hash before archiving and the verify-by-name of the archived copy
    hashes = [(o[k], o["tree"]) for o in timed for k in ("hash_s", "verify_s") if k in o]
    e2e = {
        "setup_s": (median([s["setup_s"] for s in setups]), "s"),
        "hash_s": (median([t for t, _ in hashes]), "s"),
        "hash_mbps": (median([tr["bytes"] / 1e6 / t for t, tr in hashes]), "MB/s"),
        "files_per_s": (median([tr["files"] / t for t, tr in hashes]), "1/s"),
        "peak_rss_mb": (recs["END"][0]["peak_rss_mb"], "MiB"),
    }
    extra = {
        "failed_ops_ratio": (failed / max(1, attempted), "ratio"),
        "ops": (len(timed), "count"),
        "hash_samples": (len(hashes), "count"),
        "setup_samples": (len(setups), "count"),
    }
    if args.workload == "ingest":
        extra["verify_s"] = (median([o["verify_s"] for o in timed]), "s")
        extra["archive_s"] = (median([o["archive_s"] for o in timed]), "s")
    defects = {
        "defects.unicode_wrong_hash": float(any(
            p["problem"] for p in probes if "unicode" in p["path"])),
        "defects.colon_abort": float(any(
            p["problem"] for p in probes if "colon" in p["path"])),
    }
    env = {
        "nproc": nproc(),
        "load_avg_start": start[0],
        "load_avg_end": os.getloadavg()[0],
        "cpu_steal_s": round(cpu_steal_s() - start[1], 2),
        "sun_jnu_encoding": setups[-1]["sun_jnu_encoding"],
        "java_version": setups[-1]["java_version"],
        "spark_master": setups[-1]["spark_master"],
        "page_cache_warm": True,
        "disk_measured": False,
        "loop": "closed, 1 client",
        "generate_and_oracle_s": round(gen_s, 2),
    }
    inputs = [dict(v, path=os.path.relpath(k, run.dir)) for k, v in run.inputs.items()]
    print("ENV " + json.dumps(env))
    print("INPUTS " + json.dumps(inputs))
    for lp in recs["LOOP"]:
        print("LOOP " + json.dumps(lp))
    for p in probes:
        print("PROBE %s: %s" % (os.path.basename(p["path"]),
                                (p["problem"] or "ok").splitlines()[0][:300]))

    if args.trace == 0:
        metrics = e2e
        for name, (v, unit) in list(e2e.items()) + list(extra.items()):
            print("%-18s %12.4f %s" % (name, v, unit))
    else:
        metrics = layer_metrics(run, recs, timed, setups, defects)
        for name, (v, unit) in sorted(metrics.items()):
            print("%-34s %14.4f %s" % (name, v, unit))
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace))
    if args.trace:
        shutil.copy(os.path.join(run.dir, "spans.jsonl"), stem + ".spans.jsonl")
    out = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(stem + ".json", "w") as f:
        json.dump(dict(out, env=env, inputs=inputs, extra=extra, defects=defects,
                       ops=recs["OP"], setups=setups), f, indent=1)
    print(json.dumps(out))


LAYER_UNITS = {
    "chunker.read_amplification": "ratio",
    "dirhash.jobs_per_hash": "count", "dirhash.stages_per_hash": "count",
    "dirhash.tasks_per_hash": "count", "dirhash.shuffle_bytes_per_hash": "B",
    "dirhash.task_s_per_hash": "s", "dirhash.task_skew": "ratio",
    "dirhash.first_job_delay_ms": "ms", "dirhash.driver_ms": "ms",
    "chunker.digest_sort_collect_ms": "ms", "chunker.plan_ms": "ms",
    "chunker.chunks": "count", "fs.list_ms": "ms", "fs.entries": "count",
    "fs.read_ops": "count", "archive.move_ms": "ms", "archive.link_ms": "ms",
}


def layer_metrics(run, recs, timed, setups, defects):
    traced = [o for o in timed if o["traced"]]
    m = {}
    for name, unit in LAYER_UNITS.items():
        if name == "chunker.read_amplification":
            vals = [o["layers"]["fs.bytes_read"] / o["layers"]["tree_bytes"]
                    for o in traced if o["layers"].get("tree_bytes")]
        else:
            vals = [o["layers"][name] for o in traced if name in o["layers"]]
        m[name] = (median(vals), unit)
    for k, v in recs["KERNEL"][0].items():
        m[k] = (v, "MB/s")
    m["setup.jvm_ms"] = (median([s["jvm_ms"] for s in setups]), "ms")
    m["setup.session_ms"] = (median([s["session_ms"] for s in setups]), "ms")
    m["setup.warmup_ms"] = (median([s["warmup_ms"] for s in setups]), "ms")
    m["setup.settle_ms"] = (recs["SETTLE"][0]["ms"], "ms")
    # JVM start to the first Spark job, which no program layer owns
    m["setup.first_job_ms"] = (setups[-1]["first_job_ms"], "ms")
    # traced ops against the untraced ops they alternate with, which run
    # with no listener registered
    untraced = [o["hash_s"] for o in timed if not o["traced"]]
    m["trace.overhead_ms"] = (
        (median([o["hash_s"] for o in traced]) - median(untraced)) * 1e3
        if traced and untraced else 0.0, "ms")
    for k, v in defects.items():
        m[k] = (v, "count")
    return m


if __name__ == "__main__":
    main()
