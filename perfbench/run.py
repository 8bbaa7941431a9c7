#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout.

    python3 perfbench/run.py --workload street_dag|query_sweep|dag_tick|all \
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source (once per source state),
derives the seed's inputs untimed, runs the harness JVM, checks its
outputs, prints every metric by name with its unit, and ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and
the run's spans are kept under perfbench/.work/results/.

Exits non-zero when the program cannot be built or run, or when an output
check fails.
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

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")
WORKLOADS = ("street_dag", "query_sweep", "dag_tick")
# One fixed driver heap and core count for every run.
HEAP = "4g"
CPUS = "4"
JVM_TIMEOUT_S = 165
# Input scale per workload (dirs under data/).
SCALES = {"street_dag": "sf0.1", "dag_tick": "sf0.01", "query_sweep": "sf0.01"}
# Key strides of the foreign-key-consistent copy remap (tools/make_sf1.py).
# doc_id and vec_id are no foreign keys and keep their values: the
# fixed-size eval and probe sets are their lowest ids, so every seed does
# the same work.
SHIFTS = {
    "customer": {"c_custkey": 100_000},
    "supplier": {"s_suppkey": 100_000},
    "part": {"p_partkey": 100_000},
    "orders": {"o_orderkey": 1_000_000, "o_custkey": 100_000},
    "lineitem": {"l_orderkey": 1_000_000, "l_partkey": 100_000, "l_suppkey": 100_000},
    "events": {"event_id": 1_000_000, "user_id": 100_000},
}


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, out, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout the
    whole group is killed (sbt and java start children of their own).
    Returns the exit code, or "timeout"."""
    proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True,
                            **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return "timeout"


def source_files():
    pats = ["build.sbt", "project/*.properties", "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/*.properties", "perfbench/src/main/**/*"]
    return sorted(f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                  if os.path.isfile(f))


def build():
    """Compiles the program and the harness with sbt when the sources
    changed since the last build; returns (classpath, JVM options)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no program source (build.sbt, src/main) at " + ROOT)
    digest = hashlib.sha1()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp_file = os.path.join(WORK, "build.stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = digest.hexdigest()
    if not (os.path.isfile(launch) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
        env.pop("SPARK_GRAFT_EXTRA_JAVA_OPTS", None)
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx2g")
        t0 = time.time()
        os.makedirs(WORK, exist_ok=True)
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as fh:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"], 840, fh,
                           cwd=HERE, env=env)
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail("build failed (%s)" % rc, 3)
        print("build: %.1f s" % (time.time() - t0), file=sys.stderr)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    lines = open(launch).read().splitlines()
    opts = [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    return lines[0], opts


def remap_table(src, dst, table, k):
    """Copy `k` of one table under the make_sf1 key-stride remap, written
    with the source file's layout (one row group, same codec)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    meta = pq.ParquetFile(src).metadata
    t = pq.read_table(src)
    cols = {}
    for name in t.column_names:
        c = t.column(name)
        if name in SHIFTS.get(table, {}):
            c = pc.add(c, pa.scalar(k * SHIFTS[table][name], c.type))
        elif table == "documents" and name == "text":
            # Every space-separated token gains the suffix zz<k>.
            suffix = "zz%d" % k
            c = pc.binary_join_element_wise(
                pc.replace_substring(c, " ", suffix + " "), pa.scalar(suffix), "")
        elif table == "embeddings" and name == "embedding":
            # Per-dimension sign flip (an isometry), the make_sf1 formula.
            arr = c.combine_chunks()
            offs = arr.offsets.to_numpy()
            vals = arr.values.to_numpy(zero_copy_only=False)
            j = np.arange(len(vals)) - np.repeat(offs[:-1], np.diff(offs)) + 1
            sign = np.where(((k * 2654435761 + j * 40503) % 1000003) % 2 == 0, 1.0, -1.0)
            flipped = pa.array((vals * sign).astype(vals.dtype))
            c = pa.ListArray.from_arrays(arr.offsets, flipped, mask=arr.is_null())
        cols[name] = c
    out = pa.table(cols, schema=t.schema)
    pq.write_table(out, dst, row_group_size=max(meta.num_rows, 1),
                   compression=meta.row_group(0).column(0).compression)


def inputs(scale, seed):
    """The measured input dir for a seed: seed 0 is the committed data
    unchanged; any other seed is a remapped copy derived here, untimed."""
    src = os.path.join(DATA, scale)
    if seed == 0:
        return src
    k = 1 + (abs(seed) - 1) % 999
    dst = os.path.join(WORK, "data", "%s-k%d" % (scale, k))
    done = os.path.join(dst, "_complete")
    if not os.path.exists(done):
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(dst)
        for f in sorted(glob.glob(os.path.join(src, "*.parquet"))):
            table = os.path.basename(f)[:-len(".parquet")]
            remap_table(f, os.path.join(dst, table + ".parquet"), table, k)
        open(done, "w").close()
    return dst


# Files whose presence marks a committed Dag stage table.
COMMIT_MARKERS = ("_graft_commit", "_SUCCESS")


def dag_facts(result, data_dir):
    """Output facts of the DAG workloads, read from the committed parquet
    after the harness exits: per-stage table bytes and the summary table's
    totals and content checksum, plus the input's row and panorama counts."""
    import numpy as np
    import pyarrow.parquet as pq
    facts = result["facts"]
    outs = []
    for d in facts["output_dirs"]:
        summary = os.path.join(d, "summary.parquet")
        if not any(os.path.exists(os.path.join(summary, m)) for m in COMMIT_MARKERS):
            outs.append(None)  # the materialization failed before its summary
            continue
        t = pq.read_table(summary).sort_by("file_name")
        rows = zip(*(t.column(c).to_pylist() for c in ("file_name", "n_rays", "n_hits")))
        digest = hashlib.sha1("".join("%s,%d,%d\n" % r for r in rows).encode())
        outs.append({
            "summary_rows": t.num_rows,
            "summary_rays": int(np.sum(t.column("n_rays").to_numpy())),
            "summary_hits": int(np.sum(t.column("n_hits").to_numpy())),
            "summary_checksum": digest.hexdigest()[:16],
            "table_bytes": {s: tree_bytes(os.path.join(d, s + ".parquet"))
                            for s in facts["deps"]}})
    keys = pq.read_table(os.path.join(data_dir, "lineitem.parquet"),
                         columns=["l_orderkey"]).column(0).to_numpy()
    facts.update(outputs=outs, lineitem_rows=len(keys), panoramas=len(np.unique(keys // 38)))


def tree_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# The program keeps input tables and fixtures under fixed /tmp paths. The
# harness JVM runs with a private mount of a fresh dir on /tmp, which keeps
# them inside the checkout and makes every run start from the same (empty)
# state.
PRIVATE_TMP = ["unshare", "-rm", "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"']


def require_private_tmp(tmp):
    try:
        ok = subprocess.run(PRIVATE_TMP + [tmp, "true"], stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL, timeout=10).returncode == 0
    except (OSError, subprocess.SubprocessError):
        ok = False
    if not ok:
        fail("cannot mount a private /tmp (unshare -rm); without it the program's "
             "/tmp tables would survive between runs", 5)


def cpu_ticks():
    """The machine's cumulative CPU ticks (/proc/stat), steal eighth."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_sample():
    """nproc, one-minute loadavg and MemAvailable, so a run on a busy box
    can be identified from its output."""
    mem = -1
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                mem = int(line.split()[1]) // 1024
    return {"nproc": os.cpu_count(), "loadavg_1m": os.getloadavg()[0], "mem_available_mb": mem}


def run_harness(classpath, opts, workload, seed, seconds, trace, expected):
    """One harness JVM in a fresh work dir; returns its parsed result."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    data_dir = inputs(SCALES[workload], seed)
    require_private_tmp(tmp)
    cmd = PRIVATE_TMP + [tmp, "java"] + opts + [
        "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp, "-cp", classpath, "perfbench.Harness",
        "--workload", workload, "--data", data_dir,
        "--work", run_dir, "--seconds", str(seconds), "--trace", str(trace), "--out", out,
        "--cpus", CPUS]
    if workload == "query_sweep":
        cmd += ["--queries", ",".join(expected["query_sweep"]["queries"])]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    host_before, ticks = host_sample(), cpu_ticks()
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as fh:
        rc = run_group(cmd, JVM_TIMEOUT_S, fh, env=env)
    if rc != 0 or not os.path.isfile(out):
        sys.stderr.write(open(log).read()[-4000:])
        fail("harness failed (%s) on %s" % (rc, workload), 4)
    result = json.load(open(out))
    # Share of the machine's CPU time the hypervisor gave to others.
    spent = [b - a for a, b in zip(ticks, cpu_ticks())]
    result["meta"].update(host_before=host_before, host_after=host_sample(),
                          steal_frac=spent[7] / max(sum(spent), 1))
    if "output_dirs" in result["facts"]:
        dag_facts(result, data_dir)
    result["meta"]["seed"] = seed
    return result


def report(result, seed, trace, expected):
    """Prints the workload's metrics and checks; returns the contract line."""
    workload = result["meta"]["workload"]
    failures = metrics.op_failures(result, expected, seed)
    setup_bad = metrics.setup_problems(result, expected, seed)
    meta = dict(result["meta"], setup_ms=result["setup"])
    print("run_meta " + json.dumps(meta, sort_keys=True))
    for (op, why) in zip(result["ops"], failures):
        if why:
            print("FAILED %s %s: %s" % (workload, op["name"], why))
    for why in setup_bad:
        print("FAILED %s set-up: %s" % (workload, why))
    e2e = metrics.end_to_end(result)
    for name, (value, unit) in e2e.items():
        print("%s %s %.6g %s" % (workload, name, value, unit))
    lat = metrics.latency_report(result["ops"], failures)
    for name in ("op_p50_s", "op_p90_s"):
        v = lat[name]
        print("%s %s %s (n=%d)" % (workload, name, "%.6g s" % v if v is not None
                                   else "not reported: under %d samples beyond it"
                                   % metrics.MIN_BEYOND, lat["n"]))
    failed = sum(f is not None for f in failures)
    print("%s ops_failed_frac %.6g (%d/%d)" % (workload, lat["ops_failed_frac"], failed,
                                             len(failures)))
    if trace:
        result["spans"] += metrics.job_spans(result["ops"], result["jobs"], result["spans"])
        layer = metrics.per_layer(result)
        out = {name: {"value": v, "unit": unit_of(name)} for name, v in layer.items()}
        for name, v in layer.items():
            print("%s %s %.6g %s" % (workload, name, v, unit_of(name)))
        keep = os.path.join(WORK, "results", "%s-seed%d-trace.json" % (workload, seed))
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        with open(keep, "w") as fh:
            json.dump(dict(result, per_layer=layer), fh)
        print("%s spans and per-layer numbers written to %s" % (workload,
                                                                os.path.relpath(keep, ROOT)))
    else:
        out = {name: {"value": v, "unit": u} for name, (v, u) in e2e.items()}
    return {"correct": failed == 0 and not setup_bad, "attempted": len(failures),
            "failed": failed, "metrics": out}


def unit_of(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    classpath, opts = build()
    expected = json.load(open(os.path.join(HERE, "expected.json")))
    lines = []
    for w in (WORKLOADS if args.workload == "all" else (args.workload,)):
        result = run_harness(classpath, opts, w, args.seed, args.seconds, args.trace, expected)
        lines.append(report(result, args.seed, args.trace, expected))
    for line in lines:
        print(json.dumps(line))
    if not all(line["correct"] for line in lines):
        sys.exit(1)


if __name__ == "__main__":
    main()
