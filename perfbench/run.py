#!/usr/bin/env python3
"""Benchmark entry point: build the program and harness, prepare the
workload's inputs from the seed, run one workload in one JVM, and print
the result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: pipeline_cadence, query_mix (see perfbench/README.md).
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. Build outputs, scratch data and the per-run side file (spans,
listener counts, per-operation records) live under `.bench_build/`.
The command exits non-zero, without a result line, when it cannot
build, and exits 1 after the result line when an output check failed.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("pipeline_cadence", "query_mix")
# a run must end well inside the 180 s it is allowed
JVM_TIMEOUT_S = 170

# curation epochs: pool documents per epoch, and from the second epoch
# on, exact duplicates and one-word near-duplicates of documents from
# earlier epochs under fresh ids
EPOCH_POOL = 40
EPOCH_EXACT = 5
EPOCH_NEAR = 5
DUP_ID_BASE = 1_000_000  # above every documents.parquet id
# the pool is drawn from documents at least this long, so that a
# one-word change stays far above the near-duplicate threshold
POOL_MIN_CHARS = 200


def perturb(text):
    """Replace the sixth word, as CurationPipelineSpec's perturb does."""
    words = text.split(" ")
    words[5] = "CHANGED"
    return " ".join(words)


def prepare_curation(seed, work, pool_ids, per_epoch=EPOCH_POOL, dups=True):
    """Seeded epoch files: a seeded split of the pool documents, plus
    exact and one-word-perturbed copies of documents from earlier
    epochs. Every pool document must be admitted, no copy may be."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(DATA, "documents.parquet"))
    docs = {r["doc_id"]: r for r in table.to_pylist()}
    rng = random.Random(seed)
    pool = [i for i in pool_ids if i in docs]
    rng.shuffle(pool)
    out_dir = os.path.join(work, "curation", "epochs")
    os.makedirs(out_dir, exist_ok=True)
    manifest, earlier, next_id = [], [], DUP_ID_BASE
    # every epoch the pool fills, far more than a run can use
    for e in range(-(-len(pool) // per_epoch)):
        fresh = pool[e * per_epoch:(e + 1) * per_epoch]
        rows = [docs[i] for i in fresh]
        if earlier and dups:
            for i in rng.sample(earlier, EPOCH_EXACT):
                rows.append(dict(docs[i], doc_id=next_id))
                next_id += 1
            for i in rng.sample(earlier, EPOCH_NEAR):
                text = perturb(docs[i]["text"])
                rows.append(dict(docs[i], doc_id=next_id, text=text, n_chars=len(text)))
                next_id += 1
        earlier += fresh
        rng.shuffle(rows)
        name = f"epoch_{e:05d}.parquet"
        pq.write_table(pa.Table.from_pylist(rows, schema=table.schema),
                       os.path.join(out_dir, name))
        manifest.append({"file": name, "docs": len(rows), "pool": len(fresh)})
    with open(os.path.join(work, "curation", "epochs.json"), "w") as f:
        json.dump(manifest, f)


def long_documents():
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(DATA, "documents.parquet"), columns=["doc_id", "n_chars"])
    return [r["doc_id"] for r in t.to_pylist() if r["n_chars"] >= POOL_MIN_CHARS]


def java_cmd(classes, args, work):
    return [
        "java", "-Xss8m", "-Xmx3g", *build.add_opens(),
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(ROOT), "*")]),
        "perfbench.Main", *args,
    ]


def run_jvm(cmd):
    """Runs the harness in its own process group; returns (code, stdout)."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        print("[perfbench] harness timed out", file=sys.stderr)
        return 124, out
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    # curation_pool and etl_offsets are record-only steps (see record.py)
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("curation_pool", "etl_offsets"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="FILE",
                    help="write the run's fingerprints to FILE instead of checking them")
    a = ap.parse_args()

    classes = build.ensure(ROOT, BUILD)
    expected = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    work = os.path.join(BUILD, f"work-{a.workload}-{os.getpid()}")
    side_dir = os.path.join(BUILD, "side")
    os.makedirs(side_dir, exist_ok=True)
    side = os.path.join(side_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.workload == "pipeline_cadence":
            pool = expected.get("curation", {}).get("pool")
            if pool is None:
                sys.exit("[perfbench] no curation pool in expected.json")
            prepare_curation(a.seed, work, pool)
        elif a.workload == "curation_pool":
            prepare_curation(a.seed, work, long_documents(), per_epoch=500, dups=False)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", os.path.join(DATA, "sf0.01"), "--work", work,
                "--expected", EXPECTED, "--side", side]
        if a.record:
            args += ["--record", "--record-out", os.path.abspath(a.record)]
        t0 = time.time()
        code, out = run_jvm(java_cmd(classes, args, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        elif line.startswith("REPORT "):
            print("report " + line[len("REPORT "):])
        else:
            print(line)
    if a.workload not in WORKLOADS:  # a record-only step prints no result
        sys.exit(code)
    if code != 0 or result is None:
        sys.exit(f"[perfbench] harness failed (exit {code}) after {time.time() - t0:.1f} s")
    result["metrics"] = with_units(result["metrics"], a.trace)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def with_units(values, trace):
    """The harness's readings as BENCHMARK.json names them. Every
    end-to-end metric must have been measured; a per-layer metric of a
    layer the workload never calls reads 0."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        v = values.get(m["name"])
        if v is None and not trace:
            sys.exit(f"[perfbench] no reading for {m['name']}")
        out[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    return out


if __name__ == "__main__":
    main()
