"""One benchmark session against the engine: setup, measured rounds
and correctness checks.

Setup persists the served postings table (``build_postings`` ->
``commit_partitioned(..., transform="bucket[16]")``) several times into
fresh roots; the last one serves. After the first, it also persists the
dedup signature state of the corpus's first ``STATE_DOCS`` documents
(``ingest_signatures`` -> ``commit``). A round then runs, closed loop from
one client thread:

1. index build: ``build_postings`` -> ``write_index`` over the corpus,
   26 sorted letter files;
2. dedup ingest: one new batch with planted duplicates is hashed
   (``ingest_signatures``) and probed against the persisted state
   (``ingest_dedup_against``);
3. term serving: a block of point lookups (``read_eq_part``), two-term
   ANDs (two ``read_eq_part`` reads joined) and ``bm25_multi_topk``
   top-10 queries.

The number of rounds follows from the measuring window. Each
operation's CPU time (``perfbench.cpu``) and wall time are recorded.
Every operation's output is checked against the pure-Python oracles in
``gen``, outside the timed region.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.cpu import CpuClock
from perfbench.trace import Tracer

SETUP_REPEATS = 3
STATE_DOCS = 200
ROUND_S = 20.0  # nominal wall time of one round on 4 cores
ROUND = (("build", 2), ("ingest", 1), ("lookup", 24), ("and", 12), ("bm25", 4))  # operations per round
# The traced run makes its rounds in traced/untraced pairs; each of its
# rounds is this lighter mix, so that a pair costs about one ROUND.
TRACED_ROUND = (("build", 1), ("ingest", 1), ("lookup", 12), ("and", 6), ("bm25", 2))
BATCH_DOCS = 40


def schedule(counts) -> list[str]:
    """A round's operations with each kind spread evenly over it, so a
    burst of load on a shared host does not land on one kind's samples
    only."""
    return [kind for _, kind in sorted(((i + 0.5) / n, kind) for kind, n in counts for i in range(n))]


@dataclass(frozen=True)
class Shape:
    """Input properties of one workload."""

    corpus: gen.CorpusSpec
    absent_share: float
    cold_share: float


SHAPES = {
    # Skewed corpus; query terms mostly df-weighted, so hot terms repeat.
    "hot": Shape(
        corpus=gen.CorpusSpec(n_docs=2000, vocab=20000, min_len=40, max_len=120, zipf_s=1.1),
        absent_share=0.1,
        cold_share=0.1,
    ),
    # Flatter corpus; query terms rare or absent, so keys rarely repeat.
    "cold": Shape(
        corpus=gen.CorpusSpec(n_docs=2000, vocab=40000, min_len=40, max_len=120, zipf_s=0.9),
        absent_share=0.3,
        cold_share=0.7,
    ),
}


def tree_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            size += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return size, files


def host_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU time in jiffies since boot, summed over all
    CPUs, from /proc/stat; (0, 0) where unavailable. Busy is user,
    nice, system, irq and softirq time."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    if len(f) < 8:
        return 0, 0
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the time the CPUs wanted to run between two
    ``host_jiffies`` readings that the hypervisor gave to other guests:
    how busy the neighbours on a shared host were. Reported beside the
    results, never applied to them."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def letter_file_bytes(out_dir: str, letter: str) -> bytes:
    d = os.path.join(out_dir, f"letter={letter}")
    names = sorted(n for n in os.listdir(d) if n.startswith("part-") and not n.endswith(".crc"))
    chunks = []
    for n in names:
        with open(os.path.join(d, n), "rb") as fh:
            chunks.append(fh.read())
    return b"".join(chunks)


def index_matches(out_dir: str, digests: dict[str, str]) -> bool:
    """Every letter file's sha256 equals the oracle's."""
    return all(
        hashlib.sha256(letter_file_bytes(out_dir, c)).hexdigest() == digests[c] for c in gen.LETTERS
    )


def bm25_matches(got: list[tuple[int, float]], expected: list[tuple[int, float]]) -> bool:
    """Same ranked docs and scores within rounding of the 6th decimal.
    Docs may swap only where their expected scores tie within that
    tolerance."""
    if len(got) != len(expected):
        return False
    for (gd, gs), (ed, es) in zip(got, expected):
        if abs(gs - es) > 2e-6:
            return False
        if gd != ed and not any(d == gd and abs(s - es) <= 2e-6 for d, s in expected):
            return False
    return True


def dedup_matches(best: dict[int, float], batch: gen.Batch) -> bool:
    """The flagged docs (doc id -> best estimated Jaccard) are exactly
    the planted duplicates, and every exact copy is estimated at 1."""
    return set(best) == batch.exact | batch.near and all(best[d] == 1.0 for d in batch.exact)


@dataclass
class Results:
    """What one session measured. ``samples`` holds each operation's
    CPU time (see perfbench/cpu.py), ``wall`` its wall time."""

    samples: dict[str, list[float]] = field(default_factory=dict)
    wall: dict[str, list[float]] = field(default_factory=dict)
    host_steal: float = 0.0
    attempted: int = 0
    failed: int = 0
    tokens: int = 0
    commit_bytes: list[int] = field(default_factory=list)
    commit_files: list[int] = field(default_factory=list)
    state_seed_s: float = 0.0
    rounds: list[tuple[bool, float]] = field(default_factory=list)  # (traced, wall)

    def add(self, kind: str, cpu: float, wall: float) -> None:
        self.samples.setdefault(kind, []).append(cpu)
        self.wall.setdefault(kind, []).append(wall)


class Session:
    def __init__(self, spark, workload: str, seed: int, work: str, traced: bool):
        self.spark = spark
        self.shape = SHAPES[workload]
        self.work = work
        self.tracer = Tracer(spark, traced)
        self.cpu = CpuClock(spark.sparkContext._gateway.proc.pid)
        self.res = Results()

        spec = self.shape.corpus
        self.texts = gen.corpus(seed, spec)
        self.doc_ids = list(range(spec.n_docs))
        self.corpus_dir = os.path.join(work, "corpus")
        gen.write_docs(self.corpus_dir, self.doc_ids, self.texts, spec.n_files)
        self.postings = gen.build_postings_py(self.doc_ids, self.texts)
        self.digests = gen.letter_digests(self.postings)
        self.bm25 = gen.Bm25Oracle(self.doc_ids, self.texts)
        self.res.tokens = int(self.bm25.dl.sum())
        self._by_kind = gen.query_stream(
            seed,
            self.postings,
            n=500,
            absent_share=self.shape.absent_share,
            cold_share=self.shape.cold_share,
        )
        self._query_pos = {k: 0 for k in self._by_kind}
        self._seed = seed
        self._batch_no = 0

    # -- setup ------------------------------------------------------------

    def setup(self) -> None:
        """Persist the served postings table ``SETUP_REPEATS`` times,
        each into a fresh root; the last one serves. The first persist
        pays the JVM's first-action cost, and ``setup_s``, the median of
        the others, leaves it out. The signature state is persisted after
        it, on a warm JVM."""
        from mapreduceindexer_spark.operators.index import build_postings
        from mapreduceindexer_spark.sources.transact import TransactionalTable

        tr = self.tracer
        for k in range(SETUP_REPEATS):
            root = os.path.join(self.work, f"index{k}")
            index = TransactionalTable(root)
            self.res.attempted += 1
            c0, t0 = self.cpu.ns(), time.perf_counter()
            with tr.op(f"setup{k}", "op.setup"):
                postings = build_postings(self.spark.read.parquet(self.corpus_dir))
                post = tr.force("index.postings", postings)
                with tr.span("transact.commit", replays=post):
                    index.commit_partitioned(
                        self.spark, postings, "term", transform="bucket[16]", stats_cols=("term",)
                    )
            wall = time.perf_counter() - t0
            self.res.add("setup", (self.cpu.ns() - c0) / 1e9, wall)
            size, files = tree_bytes(root)
            self.res.commit_bytes.append(size)
            self.res.commit_files.append(files)
            if index.fast_count() != len(self.postings):
                self.fail(f"setup{k}", "persisted term count differs from the oracle")
            if k:
                shutil.rmtree(os.path.join(self.work, f"index{k - 1}"))
            else:
                self._seed_state()
        self.index = index
        if tr.enabled:
            self._wrap_prune()

    def _seed_state(self) -> None:
        """Persist the dedup signature state of the first ``STATE_DOCS``
        documents once; every ingest batch probes it."""
        from pyspark.sql import functions as F

        from mapreduceindexer_spark.operators.dedup import INGEST_N_HASHES, ingest_signatures
        from mapreduceindexer_spark.sources.transact import TransactionalTable

        tr = self.tracer
        self.state = TransactionalTable(os.path.join(self.work, "state"))
        self.res.attempted += 1
        t0 = time.perf_counter()
        with tr.op("seed-state", "op.seed_state"):
            sigs = ingest_signatures(self.spark.read.parquet(self.corpus_dir).filter(F.col("doc_id") < STATE_DOCS))
            sig = tr.force("dedup.signatures", sigs)
            with tr.span("transact.commit", replays=sig):
                self.state.commit(sigs, stats_cols=("doc_id",))
        self.res.state_seed_s = time.perf_counter() - t0
        if self.state.fast_count() != INGEST_N_HASHES * STATE_DOCS:
            self.fail("seed-state", "state rows differ from n_hashes x documents")

    def _wrap_prune(self) -> None:
        """Time ``pruned_dirs_part_eq`` (called inside ``read_eq_part``)
        and record the dirs it keeps."""
        inner = self.index.pruned_dirs_part_eq
        tracer = self.tracer

        def pruned(col, value, version=None):
            with tracer.span("transact.prune") as s:
                kept, skipped = inner(col, value, version)
            if s is not None:
                s.attrs.update(kept=len(kept), total=len(kept) + len(skipped))
            return kept, skipped

        self.index.pruned_dirs_part_eq = pruned

    # -- measured rounds --------------------------------------------------

    def warm_up(self) -> None:
        """One untimed lookup, AND and BM25 query. The first lookup and
        AND pay their plan's compilation, about double a warm one; the
        first BM25 queries of a JVM cost up to 1.5x a warm one while the
        JIT compiles their code. Builds and ingests get none: the setup
        persists and the signature state ran most of the same code, and
        a run has no time for more. Outputs are still checked."""
        enabled = self.tracer.enabled
        self.tracer.enabled = False
        try:
            for kind in ("lookup", "and", "bm25"):
                self._timed("warm-up", f"warm-up-{kind}", lambda q=self._by_kind[kind][-1]: self._serve(q))
        finally:
            self.tracer.enabled = enabled

    def run(self, seconds: float) -> None:
        """Closed loop, one client: ``seconds / ROUND_S`` rounds of
        ``ROUND`` back to back (at least one). The count is fixed by
        ``seconds`` rather than by the clock, so every run of a workload
        takes the same number of samples and a fast or slow host changes
        the run's length, not its sample counts.

        The traced run makes as many pairs of ``TRACED_ROUND`` rounds,
        one traced and one untraced, on the same inputs: the pair replays
        the same query positions and the same ingest batch. Which of the
        two runs first
        alternates from pair to pair and, with one pair, with the seed,
        so tracing overhead is measured inside one process on equal
        work, and warm-up left over favours neither side."""
        j0 = host_jiffies()
        try:
            self._rounds(seconds)
        finally:
            self.res.host_steal = steal_share(j0, host_jiffies())

    def _rounds(self, seconds: float) -> None:
        n = max(1, round(seconds / ROUND_S))
        if not self.tracer.enabled:
            for r in range(n):
                self._round(r, False, ROUND)
            return
        for p in range(n):
            pos, batch_no = dict(self._query_pos), self._batch_no
            traced_first = (p + self._seed) % 2 == 0
            for r, traced in enumerate((traced_first, not traced_first)):
                self._query_pos, self._batch_no = dict(pos), batch_no
                self._round(2 * p + r, traced, TRACED_ROUND)

    def _round(self, r: int, traced: bool, counts) -> None:
        enabled = self.tracer.enabled
        self.tracer.enabled = traced
        start = time.perf_counter()
        try:
            for i, kind in enumerate(schedule(counts)):
                if kind == "build":
                    op = self._build
                elif kind == "ingest":
                    op = lambda b=self._next_batch(): self._ingest(b)  # noqa: E731
                else:
                    op = lambda q=self._next_query(kind): self._serve(q)  # noqa: E731
                self._timed(kind, f"r{r}-{i}-{kind}", op)
        finally:
            self.tracer.enabled = enabled
        self.res.rounds.append((traced, time.perf_counter() - start))

    def _next_query(self, kind: str) -> gen.Query:
        qs = self._by_kind[kind]
        q = qs[self._query_pos[kind] % len(qs)]
        self._query_pos[kind] += 1
        return q

    def _next_batch(self) -> tuple[gen.Batch, str]:
        """The next ingest batch and the parquet dir it is written to
        (written here, outside any timed region)."""
        n = self._batch_no
        self._batch_no += 1
        batch = gen.ingest_batch(self._seed, n, self.shape.corpus, self.texts[:STATE_DOCS], BATCH_DOCS)
        path = os.path.join(self.work, f"batch{n}")
        if not os.path.isdir(path):
            gen.write_docs(path, batch.doc_ids, batch.texts)
        return batch, path

    def _timed(self, kind: str, op_id: str, fn) -> None:
        """Time ``fn`` (the engine calls), then run the correctness
        check it returns outside the timed region."""
        self.res.attempted += 1
        try:
            c0, t0 = self.cpu.ns(), time.perf_counter()
            with self.tracer.op(op_id, f"op.{kind}"):
                check = fn()
            wall = time.perf_counter() - t0
            cpu = (self.cpu.ns() - c0) / 1e9
            ok = check()
        except Exception:  # an operation that raises counts as failed
            traceback.print_exc(file=sys.stderr)
            ok = False
        if ok:
            self.res.add(kind, cpu, wall)
        else:
            self.fail(op_id, "output differs from the oracle")

    def fail(self, what: str, why: str) -> None:
        self.res.failed += 1
        print(f"perfbench: {what}: {why}", file=sys.stderr)

    # -- operations (each returns the check of its output) ----------------

    def _build(self):
        from mapreduceindexer_spark.functions.text import tokens_normalized
        from mapreduceindexer_spark.operators.index import build_postings
        from mapreduceindexer_spark.operators.sink import write_index

        tr = self.tracer
        out = os.path.join(self.work, "letters")
        docs = self.spark.read.parquet(self.corpus_dir)
        scan = tr.force("scan", docs)
        tok = tr.force("text.tokenize", tokens_normalized(docs), replays=scan)
        postings = build_postings(docs)
        post = tr.force("index.postings", postings, replays=tok)
        with tr.span("sink.write", replays=post):
            write_index(postings, out)
        return lambda: index_matches(out, self.digests)

    def _ingest(self, item: tuple[gen.Batch, str]):
        from mapreduceindexer_spark.operators.dedup import ingest_dedup_against, ingest_signatures

        batch, path = item
        tr = self.tracer
        sigs = ingest_signatures(self.spark.read.parquet(path))
        sig = tr.force("dedup.signatures", sigs)
        with tr.span("dedup.probe", replays=sig) as s:
            rows = ingest_dedup_against(self.state.read(self.spark), sigs, threshold=0.5).collect()
        if s is not None:
            s.attrs["batch_docs"] = len(batch.doc_ids)
        return lambda: dedup_matches({r["doc_id"]: r["best_est"] for r in rows}, batch)

    def _serve(self, q: gen.Query):
        from pyspark.sql import functions as F

        from mapreduceindexer_spark.functions.text import tokens_normalized
        from mapreduceindexer_spark.operators.search import bm25_multi_topk

        tr = self.tracer
        if q.kind == "lookup":
            with tr.span("transact.plan"):
                df = self.index.read_eq_part(self.spark, "term", q.terms[0])
            with tr.span("transact.read"):
                rows = df.collect()
            want = self.postings.get(q.terms[0], [])
            return lambda: len(rows) <= 1 and (sorted(rows[0]["doc_ids"]) if rows else []) == want
        if q.kind == "and":
            with tr.span("transact.plan"):
                a, b = (
                    self.index.read_eq_part(self.spark, "term", t).select(F.explode("doc_ids").alias("doc_id"))
                    for t in q.terms
                )
            with tr.span("transact.read"):
                rows = a.join(b, "doc_id").collect()
            want = sorted(set(self.postings.get(q.terms[0], [])) & set(self.postings.get(q.terms[1], [])))
            return lambda: sorted(r["doc_id"] for r in rows) == want
        docs = self.spark.read.parquet(self.corpus_dir)
        scan = tr.force("scan", docs)
        tok = tr.force("text.tokenize", tokens_normalized(docs), replays=scan)
        with tr.span("search.bm25", replays=tok) as s:
            rows = bm25_multi_topk(docs, list(q.terms), k=10).collect()
        if s is not None:
            s.attrs["results"] = len(rows)
        got = [(r["doc_id"], r["score"]) for r in rows]
        return lambda: bm25_matches(got, self.bm25.topk(q.terms, 10))

    # -- after the window -------------------------------------------------

    def final_check(self) -> None:
        """Read back the whole served table once and compare it with the
        oracle postings."""
        self.res.attempted += 1
        got = {r["term"]: list(r["doc_ids"]) for r in self.index.read(self.spark).collect()}
        if got != self.postings:
            self.fail("served table", "differs from the oracle postings")

    def tokens_count(self) -> int:
        """Rows the engine's tokenizer produces over the corpus."""
        from mapreduceindexer_spark.functions.text import tokens_normalized

        return tokens_normalized(self.spark.read.parquet(self.corpus_dir)).count()
