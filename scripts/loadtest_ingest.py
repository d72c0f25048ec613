"""Loadtest: ingest-dedup batch cost vs corpus (state) size.

Builds the signature state of synthetic corpora at three sizes, probes
the SAME 500-doc batch against each, and prints one JSON line per
scale, naming the path each step took: ``driver`` (Arrow in the driver
process, taken while an input fits under
``spark.sql.autoBroadcastJoinThreshold``) or ``spark`` (the Spark plan),
and how the driver path read its inputs: ``files`` (straight from
parquet files with pyarrow), ``spark collect`` (a Spark job's Arrow
batches) or ``local`` (a table the driver already held).
The state carries only ~n_hashes small rows per admitted document and
the probe never re-reads corpus text, but the probe is O(state), not
O(batch): the Spark plan reads the whole state twice (bucket census and
agreement join) and the driver path reads it once. Reading only the
buckets the batch touches is still open (ROADMAP item 5).

Run: python scripts/loadtest_ingest.py
Results land in PLANS.md by hand (the round-7 loadtest discipline).

``--crossover 16 64`` instead times each step on real-like text
(mostly distinct shingles) of each size in MB: the signatures of the
corpus, and the probe of a 500-doc batch against the corpus's signature
state. Each step runs three ways, in rotating order, median of
``--repeats`` runs: the driver path reading the parquet inputs from
their files (``files``), the driver path with the file read turned off
so the inputs are collected from a Spark job (``collect``), and the
Spark plan (``spark``, ``spark.sql.autoBroadcastJoinThreshold=-1``).
CPU time is the engine's, as perfbench counts it (``perfbench/cpu.py``).
One JSON line per size and step, with the peak resident set so far of
the Python driver and of its JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import uuid
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mapreduceindexer_spark.operators import driver
from mapreduceindexer_spark.operators.dedup import (
    ingest_dedup_against,
    ingest_signatures,
)
from mapreduceindexer_spark.session import get_spark

WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lam", "mu", "nu", "xi", "omicron", "pi", "rho",
    "sigma", "tau", "upsilon",
]


def synth_docs(spark, n: int, id_offset: int = 0, text_offset: int = 0):
    """n synthetic documents of 30 hash-picked words each; the text is
    a pure function of ``id + text_offset``, so two calls with the
    same text_offset produce duplicate TEXTS under distinct doc_ids —
    exactly what a dup-rate probe needs."""
    w = F.array(*[F.lit(x) for x in WORDS])
    key = F.col("id") + F.lit(text_offset)
    word_at = lambda i: F.element_at(  # noqa: E731
        w, ((F.xxhash64(key * 31 + i) % 20 + 20) % 20 + 1).cast("int")
    )
    return (
        spark.range(n)
        .withColumn("doc_id", F.col("id") + id_offset)
        .withColumn("text", F.concat_ws(" ", *[word_at(i) for i in range(30)]))
        .select(
            "doc_id",
            "text",
            F.lit("en").alias("lang"),
            F.lit("synth").alias("source"),
            F.length("text").alias("n_chars"),
        )
    )


def _path(df) -> str:
    """``driver`` for the driver path's answer (a relation made by
    ``operators/driver.py::local_relation``, which keeps its Arrow
    table), else ``spark``."""
    return "driver" if getattr(df, "_driver_table", None) is not None else "spark"


@contextmanager
def _reads(spark, file_read: bool = True):
    """Yield the list of how each ``collect_small`` call read its input:
    ``local`` (the relation's own Arrow table), ``files`` (no Spark job)
    or ``spark collect``. ``file_read=False`` turns the file read off for
    the block, so the inputs are collected from a Spark job."""
    sc = spark.sparkContext
    inner, plain = driver.collect_small, driver._plain_parquet_files
    reads = []

    def counted(rel):
        group = f"loadtest-read-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "collect_small")
        try:
            out = inner(rel)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if getattr(rel, "_driver_table", None) is not None:
            reads.append("local")
        else:
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            reads.append("spark collect" if jobs else "files")
        return out

    driver.collect_small = counted
    if not file_read:
        driver._plain_parquet_files = lambda rel: None
    try:
        yield reads
    finally:
        driver.collect_small, driver._plain_parquet_files = inner, plain


def _peak_rss_mb(jvm_pid: int) -> dict:
    """Peak resident set so far, in MB, of this Python process and of
    the JVM it drives (``VmHWM``)."""
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return {
        "python_peak_rss_mb": round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024),
        "jvm_peak_rss_mb": round(hwm / 1024),
    }


def real_like_docs(spark, n: int, id_offset: int = 0, text_offset: int = 0):
    """n documents of 120 words each, drawn log-uniformly (a Zipf-like
    law) from 50 000 lower-case words: unlike :func:`synth_docs`, nearly
    every 3-shingle is distinct, as in real text. About 5.7 bytes per
    word; same ``text_offset`` rule as :func:`synth_docs`."""
    key = F.col("id") + F.lit(text_offset)

    def word(i):
        u = (F.xxhash64(key * 131 + i) % (1 << 24) + (1 << 24)) % (1 << 24) / (1 << 24)
        rank = F.floor(F.pow(F.lit(50_000.0), u)).cast("long")
        return F.translate(
            F.conv(rank.cast("string"), 10, 26),
            "0123456789ABCDEFGHIJKLMNOP",
            "abcdefghijklmnopqrstuvwxyz",
        )

    return spark.range(n).select(
        (F.col("id") + id_offset).alias("doc_id"),
        F.concat_ws(" ", *[word(i) for i in range(120)]).alias("text"),
    )


def _timed(clock, run):
    """(CPU s, wall s, result) of ``run()``."""
    cpu0, t0 = clock.ns(), time.perf_counter()
    out = run()
    return (clock.ns() - cpu0) / 1e9, time.perf_counter() - t0, out


def crossover(sizes_mb, repeats: int) -> None:
    from perfbench.cpu import CpuClock

    # A fixed set of JIT compiler threads, as perfbench/run.py starts the
    # JVM: CpuClock leaves out the threads it found at start.
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        '--conf "spark.driver.extraJavaOptions=-XX:-UseDynamicNumberOfCompilerThreads" pyspark-shell',
    )
    spark = get_spark(app_name="loadtest_ingest_crossover")
    clock = CpuClock(spark.sparkContext._gateway.proc.pid)
    conf = spark.conf
    default = conf.get("spark.sql.autoBroadcastJoinThreshold")
    work = tempfile.mkdtemp(prefix="loadtest_ingest_")
    read = spark.read.parquet

    def three(step, mb, run, check):
        """Time ``run()`` each way, rotating which goes first."""
        ways = ("files", "collect", "spark")
        times = {w: [] for w in ways}
        answers, taken = {}, {w: set() for w in ways}
        for r in range(repeats):
            for way in ways[r % 3:] + ways[: r % 3]:
                conf.set("spark.sql.autoBroadcastJoinThreshold", "-1" if way == "spark" else default)
                with _reads(spark, file_read=way == "files") as reads:
                    cpu, wall, out = _timed(clock, run)
                taken[way].add(f"{_path(out)}: {', '.join(reads) or 'none'}")
                times[way].append((cpu, wall))
                answers[way] = check(out)
        conf.set("spark.sql.autoBroadcastJoinThreshold", default)
        med = {w: [statistics.median(x[i] for x in t) for i in (0, 1)] for w, t in times.items()}
        print(
            json.dumps(
                {
                    "step": step,
                    "text_mb": mb,
                    **{f"{w}_paths": sorted(taken[w]) for w in ways},
                    **{f"{w}_cpu_s": round(med[w][0], 3) for w in ways},
                    **{f"{w}_wall_s": round(med[w][1], 3) for w in ways},
                    "same_answer": answers["files"] == answers["collect"] == answers["spark"],
                    **_peak_rss_mb(spark.sparkContext._gateway.proc.pid),
                }
            ),
            flush=True,
        )

    for mb in sizes_mb:
        n = int(mb * 1e6 / (120 * 5.7))
        corpus, state, batch = (os.path.join(work, f"{x}-{mb}") for x in ("corpus", "state", "batch"))
        real_like_docs(spark, n).write.parquet(corpus)
        ingest_signatures(read(corpus)).write.parquet(state)
        dups = real_like_docs(spark, 250, id_offset=20_000_000)
        novel = real_like_docs(spark, 250, id_offset=30_000_000, text_offset=50_000_000)
        ingest_signatures(dups.unionByName(novel)).write.parquet(batch)

        def signatures():
            sigs = ingest_signatures(read(corpus))
            sigs.write.format("noop").mode("overwrite").save()
            return sigs

        def probe():
            return ingest_dedup_against(read(state), read(batch), threshold=0.5)

        three(
            "signatures",
            mb,
            signatures,
            lambda df: df.agg(F.count("*"), F.sum("mh"), F.sum(F.crc32("sig"))).first(),
        )
        three("probe", mb, lambda: _collected(probe()), lambda df: sorted(df.collect()))
    spark.stop()
    shutil.rmtree(work)


def _collected(df):
    df.collect()
    return df


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--crossover", nargs="+", help="text sizes in MB (space- or comma-separated)")
    parser.add_argument("--repeats", type=int, default=3)
    args = parser.parse_args()
    if args.crossover:
        crossover([float(x) for a in args.crossover for x in a.split(",")], args.repeats)
        return
    spark = get_spark(app_name="loadtest_ingest")
    # 250 exact duplicates of corpus docs 0..249 + 250 novel texts —
    # the probe must flag ~the first half and pass the second.
    dup_half = synth_docs(spark, 250, id_offset=20_000_000)
    novel_half = synth_docs(
        spark, 250, id_offset=30_000_000, text_offset=50_000_000
    )
    with _reads(spark) as batch_reads:
        batch = ingest_signatures(dup_half.unionByName(novel_half))
    batch_path = _path(batch)
    batch = batch.localCheckpoint()
    for n_corpus in (10_000, 100_000, 1_000_000):
        with _reads(spark) as state_reads:
            state = ingest_signatures(synth_docs(spark, n_corpus))
        state_path = _path(state)
        state = state.localCheckpoint()
        t0 = time.time()
        with _reads(spark) as probe_reads:
            dups = ingest_dedup_against(state, batch, threshold=0.5)
        n_flagged = dups.count()
        probe_sec = time.time() - t0
        print(
            json.dumps(
                {
                    "corpus_docs": n_corpus,
                    "batch_docs": 500,
                    "probe_sec": round(probe_sec, 3),
                    "flagged": n_flagged,
                    "batch_signatures_path": batch_path,
                    "batch_signatures_reads": batch_reads,
                    "state_signatures_path": state_path,
                    "state_signatures_reads": state_reads,
                    "probe_path": _path(dups),
                    "probe_reads": probe_reads,
                }
            ),
            flush=True,
        )
        state.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
