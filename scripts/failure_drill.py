"""Executor-loss drill: run one scenario twice, undisturbed on
``local[4]`` and on a real multi-JVM master (``local-cluster[2,2,1536]``:
standalone master plus two workers, each executor a separate JVM)
where one executor is SIGKILLed once the scenario is underway. The
killed run must complete with the same state as the undisturbed one.

Scenarios (what each compares):

- ``pagerank``: copurchase_pagerank, whose rounds a cluster master
  pins to scratch (``_helpers.pin``); killed after the first round is
  on disk; result rows hash-exact.
- ``stream_dedup_gate``: stream_minhash_dedup_gate over three streamed
  file batches (batch_id output, marker-last index appends); killed
  after batch 0 lands; admitted rows, sig/ and bands/ rows and the
  committed markers identical.
- ``stream_semantic_gate``: its IVF twin, stream_semantic_dedup_gate;
  admitted rows, members, centroids and markers identical.
- ``tws_user_totals``: transformWithState totals in RocksDB, recovered
  through checkpoint plus changelog; killed after batch 0 commits; the
  state tree read back through ``inspect_stream_state`` identical, with
  ``n`` exact and ``v`` at 4 dp (the float sum accumulates in
  shuffle-arrival order, which differs between any two runs).

The scenario's result is merged into the JSON file ``--out`` under
its name. Exit 1 if no executor was killed or any state differs.

Usage: python scripts/failure_drill.py --scenario NAME SF_DIR [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

sys.path.insert(0, ".")

CLUSTER = "local-cluster[2,2,1536]"
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def executor_pids() -> list[int]:
    """PIDs of standalone-executor JVMs (separate processes only on a
    cluster master)."""
    out = subprocess.run(["ps", "-eo", "pid,args"], capture_output=True, text=True).stdout
    return [
        int(line.split(None, 1)[0])
        for line in out.splitlines()
        if "CoarseGrainedExecutorBackend" in line and "java" in line
    ]


def start_killer(ready, killed: dict) -> None:
    """SIGKILL one executor JVM once two are up and ``ready()`` holds;
    record its pid and the time in ``killed``."""

    def run() -> None:
        deadline = time.time() + 240
        while time.time() < deadline:
            pids = executor_pids()
            if len(pids) >= 2 and ready():
                os.kill(pids[0], signal.SIGKILL)
                killed.update(pid=pids[0], at=time.time())
                return
            time.sleep(0.1)

    threading.Thread(target=run, daemon=True).start()


def session(master: str, conf: dict):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(master)
        .appName("failure-drill")
        .config("spark.sql.shuffle.partitions", "8")
    )
    if master.startswith("local-cluster"):
        b = b.config("spark.executor.memory", "1g")
        # executors are separate JVMs: hand them the PYTHONPATH (the
        # vendored protobuf) explicitly instead of relying on inheritance
        if os.environ.get("PYTHONPATH"):
            b = b.config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def rows(spark, path: str) -> list:
    if not os.path.isdir(path):
        return []
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in spark.read.parquet(path).collect()
    )


def stage_batches(root: str, batches) -> str:
    """Write each frame as one append to a drop directory a file
    stream reads (4 files per batch, 4 files per trigger)."""
    drop = os.path.join(root, "drop")
    for df in batches:
        df.repartition(4).write.mode("append").parquet(drop)
    return drop


def run_stream(writer) -> None:
    """Start an availableNow query and wait for it; raise its error."""
    q = writer.trigger(availableNow=True).start()
    deadline = time.time() + 600
    while q.isActive and time.time() < deadline:
        q.awaitTermination(5)
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    q.stop()


# ----------------------------------------------------------- scenarios
# Each takes (spark, sf_dir, root, arm) and returns the state to
# compare; it calls arm(ready) once, with the condition under which the
# kill may land.


def pagerank(spark, sf_dir: str, root: str, arm) -> dict:
    from cdk_serverless_data_lake_sandbox_spark.operators._helpers import _SCRATCH_ROOT
    from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

    app_dir = os.path.join(_SCRATCH_ROOT, spark.sparkContext.applicationId)

    def round_on_disk() -> bool:
        try:
            return any(n.startswith("round-") for n in os.listdir(app_dir))
        except OSError:
            return False

    arm(round_on_disk)
    got = all_queries()["copurchase_pagerank"](spark, sf_dir).collect()
    return {"rows": sorted(tuple(r) for r in got)}


def stream_dedup_gate(spark, sf_dir: str, root: str, arm) -> dict:
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import minhash_index_build
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import stream_minhash_dedup_gate

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    idx, out = os.path.join(root, "idx"), os.path.join(root, "out")
    minhash_index_build(docs.where("doc_id < 300"), idx)
    drop = stage_batches(root, [
        docs.where(f"doc_id >= {lo} AND doc_id < {hi}").select("doc_id", "text")
        for lo, hi in ((300, 360), (360, 420), (420, 500))
    ])
    arm(lambda: os.path.isdir(os.path.join(out, "batch_id=0")))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 4)
        .parquet(drop)
    )
    run_stream(
        stream_minhash_dedup_gate(stream, idx, out)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
    )
    return {
        "admitted": rows(spark, out),
        "sig": rows(spark, os.path.join(idx, "sig")),
        "bands": rows(spark, os.path.join(idx, "bands")),
        "markers": sorted(os.listdir(os.path.join(idx, "manifest"))),
    }


def stream_semantic_gate(spark, sf_dir: str, root: str, arm) -> dict:
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import ivf_index_build
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import stream_semantic_dedup_gate

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    idx, out = os.path.join(root, "ivf"), os.path.join(root, "out")
    # ivf_index_build reads embeddings.parquet under an sf_dir, so the
    # corpus slice is staged as one
    corpus_dir = os.path.join(root, "corpus_sf")
    emb.where("vec_id < 300").coalesce(1).write.parquet(
        os.path.join(corpus_dir, "embeddings.parquet")
    )
    ivf_index_build(spark, corpus_dir, idx)
    drop = stage_batches(root, [
        emb.where(f"vec_id >= {lo} AND vec_id < {hi}").select("vec_id", "embedding")
        for lo, hi in ((300, 370), (370, 440), (440, 500))
    ])
    arm(lambda: os.path.isdir(os.path.join(out, "batch_id=0")))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 4)
        .parquet(drop)
    )
    run_stream(
        stream_semantic_dedup_gate(stream, idx, out)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
    )
    return {
        "admitted": rows(spark, out),
        "members": rows(spark, os.path.join(idx, "members")),
        "centroids": rows(spark, os.path.join(idx, "centroids")),
        "markers": sorted(os.listdir(os.path.join(idx, "manifest"))),
    }


def tws_user_totals(spark, sf_dir: str, root: str, arm) -> dict:
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import inspect_stream_state
    from cdk_serverless_data_lake_sandbox_spark.streaming.stateful import (
        tws_user_totals as totals,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    drop = stage_batches(root, [
        ev.where(f"event_id % 3 = {k}").select("user_id", "value") for k in range(3)
    ])
    ckpt = os.path.join(root, "ckpt")
    arm(lambda: os.path.exists(os.path.join(ckpt, "commits", "0")))
    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 4)
        .parquet(drop)
    )
    run_stream(
        totals(stream)
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
    )
    # the value struct carries stateful._STATE_SCHEMA's fields (n, v)
    state = inspect_stream_state(spark, ckpt, stateVarName="totals").collect()
    return {"tree": sorted((r.key.user_id, r.value.n, round(r.value.v, 4)) for r in state)}


# scenario -> (run, session conf)
SCENARIOS = {
    "pagerank": (pagerank, {}),
    "stream_dedup_gate": (stream_dedup_gate, {}),
    "stream_semantic_gate": (stream_semantic_gate, {}),
    "tws_user_totals": (
        tws_user_totals,
        {
            "spark.sql.streaming.stateStore.providerClass": ROCKSDB,
            "spark.sql.session.timeZone": "UTC",
        },
    ),
}


def run(name: str, master: str, sf_dir: str, killed: dict | None) -> dict:
    """One run of scenario ``name`` in a fresh session; with
    ``killed``, an executor is SIGKILLed once the scenario is ready."""
    scenario, conf = SCENARIOS[name]

    def arm(ready) -> None:
        if killed is not None:
            start_killer(ready, killed)

    root = tempfile.mkdtemp(prefix="failure-drill-")
    spark = session(master, conf)
    try:
        return scenario(spark, sf_dir, root, arm)
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description="Executor-loss drill on local-cluster.")
    ap.add_argument("--scenario", required=True, choices=sorted(SCENARIOS))
    ap.add_argument("sf_dir")
    ap.add_argument("--out", default="LOSS_DRILL_LATEST.json")
    args = ap.parse_args()

    from cdk_serverless_data_lake_sandbox_spark.compat import ensure_protobuf

    ensure_protobuf()  # before the gateway starts: TWS python workers need it
    ref = run(args.scenario, "local[4]", args.sf_dir, None)
    killed: dict = {}
    t0 = time.time()
    got = run(args.scenario, CLUSTER, args.sf_dir, killed)
    art = {
        "master": CLUSTER,
        "sf_dir": args.sf_dir,
        "executor_killed": "pid" in killed,
        "killed_pid": killed.get("pid"),
        "killed_after_sec": round(killed["at"] - t0, 1) if "at" in killed else None,
        "wall_sec": round(time.time() - t0, 1),
        "rows": {k: len(v) for k, v in got.items()},
        "identical": {k: got[k] == ref[k] for k in ref},
    }
    print(json.dumps({args.scenario: art}))
    prior = {}
    if os.path.exists(args.out):
        with open(args.out) as fh:
            prior = json.load(fh)
    prior[args.scenario] = art
    with open(args.out, "w") as fh:
        json.dump(prior, fh, indent=1)
    sys.exit(0 if art["executor_killed"] and all(art["identical"].values()) else 1)


if __name__ == "__main__":
    main()
