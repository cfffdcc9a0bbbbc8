#!/usr/bin/env python
"""Kill -9 mid-micro-batch + checkpoint-restart differential for the two
custom stateful streaming operators (VERDICT r04 next-round task 3) —
`streaming_chunk_dedup` and `streaming_token_mixture` — the streaming
twins of the batch crash demo (scripts/crash_resume_demo.py).

Per operator, three legs over the SAME deterministic replayed file source
(K parquet files, mtimes forced increasing so FileStreamSource replays
them in order; maxFilesPerTrigger=1 → K micro-batches):

  1. CLEAN  — a child process runs the streaming query availableNow to
              completion against fresh out/checkpoint dirs.
  2. CRASH  — a second child against separate dirs; the parent polls the
              checkpoint's offsets/ and commits/ logs and SIGKILLs the
              child's whole process group the moment batch N has an
              OFFSET entry but no COMMIT entry (i.e. genuinely
              mid-micro-batch), for N >= KILL_AFTER_BATCH.
  3. RESUME — the same child command re-run with the same dirs; the
              query restores per-key state from the checkpoint and
              finishes the remaining batches.

Compare: both legs' outputs are read back THROUGH Spark (the parquet
FileStreamSink's _spark_metadata log gives exactly-once reads — files of
the killed uncommitted batch are invisible), and the crashed+resumed
verdict set must be row-identical to the clean run's. The clean run is
additionally differentialed against the operator's batch twin:

  * chunk_dedup  — per-(doc, chunk) keep verdicts vs a pure-Python replay
    of the portable spec (global first occurrence of each 60-bit chunk
    hash in (doc_id, chunk_i) order — valid because arrival order is
    forced to doc order and the state cap is not reached), AND per-doc
    drop counts vs operators.dedup_text.chunk_dedup.
  * token_mixture — per-(bucket, shard) quota invariants (admitted tokens
    never exceed target + one crossing doc; admission is a prefix of the
    portable sha-order within each shard's arrival sequence) and
    bucket-level admitted token totals equal between clean and resumed
    legs (restart never double-fills a quota).

Writes the transcript to BENCH/stream_crash_r5.json (or STREAM_CRASH_OUT).
Child mode (internal): stream_crash_demo.py --child <op> <src> <out> <ckpt>.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
BENCH_DIR = os.path.join(REPO, "BENCH")

WORK = os.environ.get("STREAM_CRASH_WORK", "/dev/shm/stream_crash_demo")
OUT_JSON = os.environ.get(
    "STREAM_CRASH_OUT", os.path.join(BENCH_DIR, "stream_crash_r5.json")
)
N_FILES = int(os.environ.get("STREAM_CRASH_FILES", "8"))
DOCS_PER_FILE = int(os.environ.get("STREAM_CRASH_DOCS", "6000"))
KILL_AFTER_BATCH = int(os.environ.get("STREAM_CRASH_KILL_BATCH", "2"))
CHUNK_TOKENS = 5
N_BUCKETS = 16
MIX_WEIGHTS = {"py": 3.0, "js": 2.0, "go": 1.0}
MIX_SHARDS = 2
SEED = 20260821

LANGS = list(MIX_WEIGHTS)


def gen_rows(seed: int = SEED):
    """Deterministic collision-heavy corpus: (doc_id, lang, content).
    Zero-padded increasing doc_ids across files so FileStreamSource
    arrival order == global (doc_id, chunk_i) order."""
    rng = random.Random(seed)
    vocab = [f"tok{i}" for i in range(40)]  # small vocab -> many dup chunks
    files = []
    d = 0
    for fi in range(N_FILES):
        rows = []
        for _ in range(DOCS_PER_FILE):
            n = rng.randint(2, 6) * CHUNK_TOKENS
            words = [rng.choice(vocab) for _ in range(n)]
            rows.append(
                (f"d{d:07d}", rng.choice(LANGS), " ".join(words))
            )
            d += 1
        files.append(rows)
    return files


def write_source(src: str) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    total = 0
    now = time.time()
    for fi, rows in enumerate(gen_rows()):
        tbl = pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "lang": [r[1] for r in rows],
                "content": [r[2] for r in rows],
            }
        )
        path = os.path.join(src, f"part-{fi:03d}.parquet")
        pq.write_table(tbl, path)
        # force replay order: strictly increasing mtimes, oldest first
        t = now - (N_FILES - fi) * 10
        os.utime(path, (t, t))
        total += len(rows)
    return total


# ---------------------------------------------------------------------------
# child: run one streaming leg to availableNow completion
# ---------------------------------------------------------------------------


def child_main(op: str, src: str, out: str, ckpt: str) -> None:
    from pyspark.sql import SparkSession

    from iamsystem_python_spark.streaming.stream_ops import (
        streaming_chunk_dedup,
        streaming_token_mixture,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .appName(f"stream_crash_{op}")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    stream = (
        spark.readStream.schema("doc_id string, lang string, content string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    if op == "chunk_dedup":
        verdicts = streaming_chunk_dedup(
            stream, text_col="content", id_col="doc_id",
            chunk_tokens=CHUNK_TOKENS, n_buckets=N_BUCKETS,
        )
    elif op == "token_mixture":
        budget = N_FILES * DOCS_PER_FILE * CHUNK_TOKENS  # ~quarter of tokens
        verdicts = streaming_token_mixture(
            stream, weights=MIX_WEIGHTS, token_budget=budget,
            bucket_col="lang", text_col="content", id_col="doc_id",
            n_shards=MIX_SHARDS,
        )
    else:
        raise SystemExit(f"unknown op {op}")
    q = (
        verdicts.writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.stop()


# ---------------------------------------------------------------------------
# parent: orchestrate legs, kill mid-batch, compare
# ---------------------------------------------------------------------------


def child_cmd(op: str, src: str, out: str, ckpt: str) -> list:
    return [sys.executable, os.path.abspath(__file__), "--child", op, src, out, ckpt]


def run_clean(op: str, src: str, out: str, ckpt: str) -> dict:
    t0 = time.time()
    p = subprocess.run(
        child_cmd(op, src, out, ckpt), capture_output=True, text=True,
        cwd=REPO, timeout=1800,
    )
    return {
        "rc": p.returncode,
        "seconds": round(time.time() - t0, 1),
        "stderr_tail": p.stderr[-1500:] if p.returncode else "",
    }


def _log_ids(ckpt: str, name: str) -> set:
    d = os.path.join(ckpt, name)
    if not os.path.isdir(d):
        return set()
    return {int(f) for f in os.listdir(d) if f.isdigit()}


def run_crash(op: str, src: str, out: str, ckpt: str) -> dict:
    """Start the child in its own process group; SIGKILL the group the
    moment some batch >= KILL_AFTER_BATCH has an offsets entry but no
    commits entry — i.e. the micro-batch is planned/running but NOT
    committed. Record the exact batch and both log states at kill time."""
    t0 = time.time()
    p = subprocess.Popen(
        child_cmd(op, src, out, ckpt), cwd=REPO,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )
    killed_batch = None
    try:
        while True:
            if p.poll() is not None:
                return {"error": "child finished before kill", "rc": p.returncode}
            offsets, commits = _log_ids(ckpt, "offsets"), _log_ids(ckpt, "commits")
            pending = sorted(b for b in offsets - commits if b >= KILL_AFTER_BATCH)
            if pending:
                killed_batch = pending[0]
                os.killpg(p.pid, signal.SIGKILL)
                break
            time.sleep(0.03)
        p.wait(timeout=30)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
    return {
        "killed_mid_batch": killed_batch,
        "elapsed_at_kill_s": round(time.time() - t0, 1),
        "offsets_at_kill": sorted(_log_ids(ckpt, "offsets")),
        "commits_at_kill": sorted(_log_ids(ckpt, "commits")),
    }


def read_sink(spark, out: str):
    # reading through Spark honors the FileStreamSink _spark_metadata log:
    # files from the killed uncommitted batch are invisible (exactly-once)
    return spark.read.parquet(out)


def compare_chunk_dedup(spark, clean_out: str, resumed_out: str) -> dict:
    from pyspark.sql import functions as F

    from iamsystem_python_spark.operators.dedup_text import chunk_dedup

    clean = {
        (r.doc_id, r.chunk_i): r.keep for r in read_sink(spark, clean_out).collect()
    }
    resumed = {
        (r.doc_id, r.chunk_i): r.keep
        for r in read_sink(spark, resumed_out).collect()
    }
    # pure-Python replay of the portable spec: global first occurrence of
    # each 60-bit chunk hash in (doc_id, chunk_i) order, over the operator's
    # ceil(n_tokens / CHUNK_TOKENS) windows per document
    seen, want = set(), {}
    for rows in gen_rows():
        for doc_id, _lang, content in rows:
            toks = content.split(" ")
            for ci in range(-(-len(toks) // CHUNK_TOKENS)):
                chunk = " ".join(toks[ci * CHUNK_TOKENS : (ci + 1) * CHUNK_TOKENS])
                h = int(hashlib.sha256(chunk.encode()).hexdigest()[:15], 16)
                want[(doc_id, ci)] = h not in seen
                seen.add(h)
    # batch twin per-doc drop counts
    flat = [r for rows in gen_rows() for r in rows]
    bdf = spark.createDataFrame(flat, "doc_id string, lang string, content string")
    batch_drops = {
        r.doc_id: r.n_dropped
        for r in chunk_dedup(
            bdf, id_col="doc_id", text_col="content", chunk_tokens=CHUNK_TOKENS
        ).collect()
    }
    stream_drops = {}
    for (doc, _ci), keep in clean.items():
        stream_drops[doc] = stream_drops.get(doc, 0) + (0 if keep else 1)
    return {
        "verdicts_clean": len(clean),
        "verdicts_resumed": len(resumed),
        "clean_eq_resumed": clean == resumed,
        "clean_eq_python_replay": clean == want,
        "batch_dropcounts_equal": all(
            stream_drops.get(d, 0) == n for d, n in batch_drops.items()
        ),
        "total_dropped": sum(1 for k in clean.values() if not k),
    }


def compare_token_mixture(spark, clean_out: str, resumed_out: str) -> dict:
    clean_rows = read_sink(spark, clean_out).collect()
    resumed_rows = read_sink(spark, resumed_out).collect()
    clean = {r.doc_id: (r.bucket, r.n_tokens, r.cum_before, r.admitted)
             for r in clean_rows}
    resumed = {r.doc_id: (r.bucket, r.n_tokens, r.cum_before, r.admitted)
               for r in resumed_rows}
    budget = N_FILES * DOCS_PER_FILE * CHUNK_TOKENS
    total_w = sum(MIX_WEIGHTS.values())
    per_shard_target = {
        b: budget * w / total_w / MIX_SHARDS for b, w in MIX_WEIGHTS.items()
    }
    # quota invariant per (bucket, shard): admitted tokens <= target + the
    # crossing doc's tokens; and a restart never double-fills (bucket
    # totals equal across legs). Shard ids recomputed relationally with
    # the operator's own pmod(xxhash64(doc_id), n_shards) expression.
    from pyspark.sql import functions as F

    cdf = read_sink(spark, clean_out).withColumn(
        "shard", F.pmod(F.xxhash64("doc_id"), F.lit(MIX_SHARDS)).cast("int")
    )
    adm = (
        cdf.where("admitted")
        .groupBy("bucket", "shard")
        .agg(F.sum("n_tokens").alias("toks"), F.max("n_tokens").alias("max_doc"))
        .collect()
    )
    quota_ok = all(
        r.toks <= per_shard_target[r.bucket] + r.max_doc for r in adm
    )
    adm_clean = {}
    for r in clean_rows:
        if r.admitted:
            adm_clean[r.bucket] = adm_clean.get(r.bucket, 0) + r.n_tokens
    adm_res = {}
    for r in resumed_rows:
        if r.admitted:
            adm_res[r.bucket] = adm_res.get(r.bucket, 0) + r.n_tokens
    return {
        "verdicts_clean": len(clean),
        "verdicts_resumed": len(resumed),
        "clean_eq_resumed": clean == resumed,
        "quota_invariant_ok": quota_ok,
        "admitted_tokens_clean": adm_clean,
        "admitted_tokens_resumed": adm_res,
        "no_double_fill": adm_clean == adm_res,
        "per_shard_target": per_shard_target,
    }


def run_op(op: str, spark) -> dict:
    base = os.path.join(WORK, op)
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    write_source(src)
    dirs = {
        leg: (os.path.join(base, leg, "out"), os.path.join(base, leg, "ckpt"))
        for leg in ("clean", "crash")
    }
    res = {"op": op}
    res["clean_run"] = run_clean(op, src, *dirs["clean"])
    res["crash"] = run_crash(op, src, *dirs["crash"])
    res["resume_run"] = run_clean(op, src, *dirs["crash"])
    res["commits_after_resume"] = sorted(_log_ids(dirs["crash"][1], "commits"))
    cmp_fn = compare_chunk_dedup if op == "chunk_dedup" else compare_token_mixture
    res["compare"] = cmp_fn(spark, dirs["clean"][0], dirs["crash"][0])
    return res


def main() -> None:
    from pyspark.sql import SparkSession

    t0 = time.time()
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("stream_crash_compare")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    out = {
        "n_files": N_FILES,
        "docs_per_file": DOCS_PER_FILE,
        "work": WORK,
        "ops": [run_op(op, spark) for op in ("chunk_dedup", "token_mixture")],
    }
    out["total_seconds"] = round(time.time() - t0, 1)
    ok = True
    for op in out["ops"]:
        c = op.get("compare", {})
        ok &= bool(c.get("clean_eq_resumed"))
        ok &= op.get("crash", {}).get("killed_mid_batch") is not None
        if op["op"] == "chunk_dedup":
            ok &= bool(c.get("clean_eq_python_replay"))
            ok &= bool(c.get("batch_dropcounts_equal"))
        else:
            ok &= bool(c.get("quota_invariant_ok")) and bool(c.get("no_double_fill"))
    out["all_ok"] = bool(ok)
    os.makedirs(BENCH_DIR, exist_ok=True)
    with open(OUT_JSON, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child_main(*sys.argv[2:6])
    else:
        main()
