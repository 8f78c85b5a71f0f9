#!/usr/bin/env python3
"""Repo benchmark for the graft raster-cube engine.

    python3 perfbench/run.py --workload tile_query --seed 1 --seconds 5 --trace 0

Run from the repository root. Builds the engine and the harness from
source (scalac from the Spark distribution, cached by source hash under
$CARGO_TARGET_DIR or .bench_build) together with a class-data-sharing
archive for the JVM, runs one workload in a fresh JVM,
checks every operation's result, and prints a metric table followed by
one JSON line: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. Each run also writes a capture file that is never
overwritten. See perfbench/README.md for workloads and metric
definitions.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchmath  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("tile_query", "tile_refresh", "corpus_curate")
HEAP = "3g"
DEADLINE_S = 170
TRAIN_DEADLINE_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else where spark-submit is."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark distribution with a Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no engine sources under src/main/scala: run from the repository root")
    if not bench:
        fail("no harness sources under perfbench/scala")
    return main, bench


def build(root, out_root, jars):
    """Compile engine + harness once per source tree into one jar; returns
    (build dir, source digest)."""
    main, bench = sources(root)
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    classes = os.path.join(out_root, f"classes-{digest[:16]}")
    if os.path.exists(os.path.join(classes, "BUILT")):
        return classes, digest
    tmp = f"{classes}.tmp{os.getpid()}"
    out = os.path.join(tmp, "classes")
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    for files, extra in ((main, []), (bench, [out])):
        listing = os.path.join(tmp, "sources.txt")
        with open(listing, "w") as fh:
            fh.write("\n".join(files))
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
               "scala.tools.nsc.Main", "-nowarn", "-d", out,
               "-classpath", os.pathsep.join(extra + [cp]), "@" + listing]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("compilation failed")
    # the JVM shares class data only from jars, not from class directories
    with zipfile.ZipFile(os.path.join(tmp, "perfbench.jar"), "w", zipfile.ZIP_STORED) as jar:
        for d, _, names in sorted(os.walk(out)):
            for n in sorted(names):
                jar.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), out))
    shutil.rmtree(out)
    with open(os.path.join(tmp, "BUILT"), "w") as fh:
        fh.write(digest + "\n")
    os.rename(tmp, classes)
    return classes, digest


def harness_cmd(root, classes, jars, work, jvm_flags):
    """The harness JVM's command line, up to the harness arguments."""
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
             "-Dlog4j2.configurationFile=" + os.path.join(root, "perfbench", "log4j2.properties")]
            + jvm_flags
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([os.path.join(classes, "perfbench.jar"),
                                       os.path.join(jars, "*")]), "perfbench.Main"])


def class_archive(root, classes, jars):
    """Path of the build's class-data-sharing archive, or None.

    A cold JVM spends several seconds loading and verifying Spark's
    classes. Once per build, a training JVM sets up and warms up every
    workload and dumps the classes it loaded; every measured run then
    maps them from the archive, so no measured run pays for the dump and
    all runs of a build start alike. If the dump fails, runs go without
    an archive and the capture says so.
    """
    jsa = os.path.join(classes, "classes.jsa")
    failed = jsa + ".failed"
    if os.path.exists(jsa) or os.path.exists(failed):
        return jsa if os.path.exists(jsa) else None
    work = os.path.join(classes, f"train{os.getpid()}")
    os.makedirs(work)
    tmp = f"{jsa}.tmp{os.getpid()}"
    cmd = (harness_cmd(root, classes, jars, work, [f"-XX:ArchiveClassesAtExit={tmp}"])
           + ["--workload", "all", "--seed", "0", "--seconds", "0", "--trace", "0",
              "--work", work, "--out", os.path.join(work, "raw.json")])
    with open(os.path.join(classes, "train.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=TRAIN_DEADLINE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    shutil.rmtree(work, ignore_errors=True)
    if rc == 0 and os.path.exists(tmp):
        os.rename(tmp, jsa)
        return jsa
    if os.path.exists(tmp):
        os.remove(tmp)
    with open(failed, "w") as fh:
        fh.write(f"training JVM exit {rc}; see train.log\n")
    return None


def filesystem(path):
    """Type of the filesystem holding `path` (e.g. tmpfs, ext4)."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                mnt, fstype = parts[1], parts[2]
                if os.path.abspath(path).startswith(mnt) and len(mnt) > len(best):
                    best, kind = mnt, fstype
    except OSError:
        pass
    return kind


def cpu_times():
    """(all, steal) jiffies of the host's CPUs; steal is time the
    hypervisor ran something else while this machine had work."""
    try:
        with open("/proc/stat") as fh:
            f = [int(v) for v in fh.readline().split()[1:]]
        return (sum(f), f[7] if len(f) > 7 else 0)
    except (OSError, ValueError):
        return (0, 0)


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def end_to_end(raw):
    """The gated metrics plus the named per-workload figures."""
    ops = raw["ops"]
    secs = [o["seconds"] for o in ops]
    wl = raw["workload"]
    tail = benchmath.tail(secs)
    failed = sum(1 for o in ops if not o["ok"])
    named = {"setup_s": (raw["setup_s"], "s"),
             "ops_failed_frac": (failed / len(ops), "ratio")}
    if wl == "tile_query":
        work = sum(o["work"] for o in ops) / sum(secs) / 1e6
        named["query_p50_s"] = (benchmath.median(secs), "s")
        named["query_tail_s"] = ((tail[0], "s") if tail else
                                 (None, f"s (needs >= 11 queries, ran {len(secs)})"))
        named["scan_mpx_per_s"] = (work, "Mpx/s")
    elif wl == "tile_refresh":
        ingest = raw["setup_facts"]
        work = sum(o["work"] for o in ops) / sum(secs) / 1e6
        fin = raw["finish"]
        named["ingest_mpx_per_s"] = (ingest["ingest_px_dates"] / ingest["ingest_s"] / 1e6, "Mpx/s")
        named["refresh_mpx_per_s"] = (work, "Mpx/s")
        named["refresh_p50_s"] = (benchmath.median(secs), "s")
        named["store_bytes_per_px"] = (fin["store_bytes"] / fin["stored_px_dates"], "B")
    else:
        work = sum(o["work"] for o in ops) / sum(secs)
        named["curate_p50_s"] = (benchmath.median(secs), "s")
        named["corpus_docs_per_s"] = (work, "docs/s")
    gated = {
        "setup_s": (raw["setup_s"], "s"),
        "op_p50_gmean_s": (benchmath.gmean_of_medians((o["kind"], o["seconds"]) for o in ops), "s"),
        "work_per_s": (work, "work/s"),
    }
    return gated, named, tail


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    out_root = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    out_root = os.path.abspath(out_root)
    jars = spark_jars()
    classes, digest = build(root, out_root, jars)
    archive = class_archive(root, classes, jars)
    t_start = time.time()  # the run's deadline excludes a first build

    run_id = f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}-{args.workload}-s{args.seed}" \
             f"-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(out_root, "runs", run_id)
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    raw_path = os.path.join(run_dir, "raw.json")
    log_path = os.path.join(run_dir, "java.log")
    cmd = (harness_cmd(root, classes, jars, work,
                       [f"-XX:SharedArchiveFile={archive}"] if archive else [])
           + ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", raw_path])
    steal0 = cpu_times()
    budget = DEADLINE_S - (time.time() - t_start)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {DEADLINE_S} s; log in {log_path}")
    steal1 = cpu_times()
    if rc != 0 or not os.path.exists(raw_path):
        shutil.rmtree(work, ignore_errors=True)
        with open(log_path) as fh:
            print("".join(fh.readlines()[-40:]), file=sys.stderr)
        fail(f"harness exited with {rc}; log in {log_path}")
    with open(raw_path) as fh:
        raw = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    os.remove(raw_path)  # the capture below holds all of it

    gated, named, tail = end_to_end(raw)
    all_ops = raw["ops"] + raw["retimed_ops"] + raw["traced_ops"]
    failures = [o for o in all_ops if not o["ok"]]
    if args.trace:
        per_layer = layers.per_layer(raw)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in gated.items()}

    env = {
        "git_commit": git_commit(root), "source_sha256": digest, "seed": args.seed,
        "nproc": raw["cores"], "master": raw["master"], "heap_max_mb": raw["heap_max_mb"],
        "store_fs": filesystem(work), "spark": raw["spark_version"], "jdk": raw["java_version"],
        "session_conf": raw["session_conf"], "seconds": args.seconds,
        "class_data_archive": archive is not None,
        "cpu_steal_frac": benchmath.ratio(steal1[1] - steal0[1], steal1[0] - steal0[0]),
    }
    capture = {"env": env, "sizes": raw["sizes"], "setup_facts": raw["setup_facts"],
               "fixtures_s": raw["fixtures_s"], "metrics": metrics,
               "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
               "query_tail_percentile": tail[1] if tail else None,
               "ops": raw["ops"], "retimed_ops": raw["retimed_ops"],
               "traced_ops": raw["traced_ops"], "jvm": raw["jvm"],
               "spans": raw["spans"]}
    cap_dir = os.path.join(out_root, "captures")
    os.makedirs(cap_dir, exist_ok=True)
    cap_path = os.path.join(cap_dir, run_id + ".json")
    with open(cap_path, "x") as fh:  # "x": a capture is never overwritten
        json.dump(capture, fh)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"{raw['master']}  {raw['sizes']}")
    steal = env["cpu_steal_frac"]
    print(f"cpu steal {'n/a' if steal is None else f'{steal:.1%}'}  "
          f"store fs {env['store_fs']}  heap {raw['heap_max_mb']:.0f} MiB  "
          f"class archive {'yes' if archive else 'no'}  "
          f"spark {raw['spark_version']}  jdk {raw['java_version']}  capture {cap_path}")
    for k, (v, u) in named.items():
        shown = "n/a" if v is None else f"{v:.6g}"
        extra = f"  (p{tail[1]:.0f} of {tail[2]})" if k == "query_tail_s" and tail else ""
        print(f"  {k:<22} {shown:>12} {u}{extra}")
    if args.trace:
        for name, note in layers.notes(raw).items():
            print(f"  {name}: {note}")
    for o in failures:
        print(f"  FAILED op {o['i']} {o['kind']}: {o['error']}")
    print(json.dumps({"correct": not failures, "attempted": len(all_ops),
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
