"""Metric definitions and their assembly from one session.

``END_TO_END`` is what the untraced run prints, ``PER_LAYER`` what the
traced run prints; both must match the names and units declared in
``BENCHMARK.json`` (checked by the benchmark's tests).
"""

from __future__ import annotations

import os
import statistics

from perfbench.workload import tree_bytes

END_TO_END = {
    "setup_s": "s",
    "build_cpu_p50_s": "s",
    "build_tokens_per_cpu_s": "tokens/s",
    "ingest_batch_cpu_p50_s": "s",
    "lookup_cpu_p50_ms": "ms",
    "and_cpu_p50_ms": "ms",
    "and_cpu_tail_ms": "ms",
    "bm25_cpu_p50_ms": "ms",
    "bm25_cpu_tail_ms": "ms",
}

PER_LAYER = {
    "session.jobs_per_op": "count",
    "session.tasks_per_op": "count",
    "session.busy_frac": "ratio",
    "scan.self_s": "s",
    "text.tokenize.self_s": "s",
    "text.tokenize.bm25_ms": "ms",
    "text.tokens": "count",
    "index.postings.self_s": "s",
    "index.shuffle_bytes": "bytes",
    "index.spill_bytes": "bytes",
    "index.max_df": "count",
    "sink.write.self_s": "s",
    "sink.files": "count",
    "sink.bytes": "bytes",
    "transact.plan_ms": "ms",
    "transact.prune_ms": "ms",
    "transact.dirs_read_per_lookup": "ratio",
    "transact.read_ms": "ms",
    "transact.commit.self_s": "s",
    "transact.commit.bytes_written": "bytes",
    "transact.commit.files": "count",
    "dedup.signatures.self_s": "s",
    "dedup.probe.self_s": "s",
    "dedup.probe.rows_per_batch_doc": "ratio",
    "search.bm25.self_ms": "ms",
    "search.bm25.rows_examined_per_result": "ratio",
    "trace.layer_self_frac": "ratio",
    "trace.replay_frac": "ratio",
    "trace.unaccounted_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the tail: the highest nearest-rank
    percentile with at least ten samples beyond it, but never below
    p75. With fewer than 40 samples that is p75, and fewer than ten
    samples lie beyond it; the sample count is reported beside it."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 40:
        rank = n - 10
        return xs[rank - 1], 100.0 * rank / n
    rank = max(1, -(-3 * n // 4))  # ceil(0.75 n)
    return xs[rank - 1], 75.0


def _statistics(s: dict[str, list[float]], tokens: int) -> dict[str, float]:
    """Every end-to-end metric from per-kind time samples."""
    build = _median(s.get("build", []))
    values = {
        "setup_s": _median(s.get("setup", [])[1:]),  # the first persist is cold
        "build_cpu_p50_s": build,
        "build_tokens_per_cpu_s": tokens / build if build else 0.0,
        "ingest_batch_cpu_p50_s": _median(s.get("ingest", [])),
    }
    for kind in ("lookup", "and", "bm25"):
        xs = s.get(kind, [])
        values[f"{kind}_cpu_p50_ms"] = _median(xs) * 1e3
        values[f"{kind}_cpu_tail_ms"] = (tail(xs)[0] if xs else 0.0) * 1e3
    return {k: values[k] for k in END_TO_END}


def end_to_end(res) -> tuple[dict[str, float], dict]:
    """(metric values, details) from an untraced session's results.
    ``wall`` in the details holds the same statistics of the
    operations' wall times."""
    details = {
        "samples": {k: len(v) for k, v in res.samples.items()},
        "wall": _statistics(res.wall, res.tokens),
        "host_steal": res.host_steal,
        "state_seed_s": res.state_seed_s,
        "tails": {
            f"{kind}_cpu_tail_ms": {"percentile": tail(xs)[1], "samples": len(xs)}
            for kind in ("and", "bm25")
            if (xs := res.samples.get(kind))
        },
    }
    return _statistics(res.samples, res.tokens), details


def per_layer(sess, cores: int, tokens: int) -> tuple[dict[str, float], dict]:
    """(metric values, details) from a traced session's spans."""
    tr, res = sess.tracer, sess.res
    ops = {k: tr.roots(f"op.{k}") for k in ("setup", "build", "ingest", "lookup", "and", "bm25")}

    def in_ops(kinds, name):
        return [[d for d in tr.descendants(op) if d.name == name] for k in kinds for op in ops[k]]

    def self_per_op(kind: str, name: str) -> list[float]:
        return [sum(tr.self_time(d) for d in ds) for ds in in_ops((kind,), name)]

    def own_per_op(kind: str, name: str, *keys: str) -> list[int]:
        return [sum(d.attrs.get(k, 0) for d in ds for k in keys) for ds in in_ops((kind,), name)]

    def flat(kinds, name):
        return [d for ds in in_ops(kinds, name) for d in ds]

    serving = ops["lookup"] + ops["and"]
    prunes = flat(("lookup", "and"), "transact.prune")
    bm25 = flat(("bm25",), "search.bm25")
    results = sum(s.attrs.get("results", 0) for s in bm25)
    probes = flat(("ingest",), "dedup.probe")
    out_dir = os.path.join(sess.work, "letters")
    sink_bytes, sink_files = tree_bytes(out_dir)

    acct = [tr.accounting(op) for k in ("build", "ingest", "lookup", "and", "bm25") for op in ops[k]]
    wall = sum(a["wall"] for a in acct) or 1.0
    plain = _median([w for t, w in res.rounds if not t])
    traced = _median([w for t, w in res.rounds if t])

    values = {
        "session.jobs_per_op": _mean([tr.inclusive(op, "jobs") for op in serving]),
        "session.tasks_per_op": _mean([tr.inclusive(op, "tasks") for op in serving]),
        "session.busy_frac": sum(tr.inclusive(op, "run_ms") for op in ops["build"])
        / 1e3
        / ((sum(op.duration for op in ops["build"]) * cores) or 1.0),
        "scan.self_s": _median(self_per_op("build", "scan")),
        "text.tokenize.self_s": _median(self_per_op("build", "text.tokenize")),
        "text.tokenize.bm25_ms": _median(self_per_op("bm25", "text.tokenize")) * 1e3,
        "text.tokens": tokens,
        "index.postings.self_s": _median(self_per_op("build", "index.postings")),
        "index.shuffle_bytes": _median(own_per_op("build", "index.postings", "shuffle_write")),
        "index.spill_bytes": _median(own_per_op("build", "index.postings", "spill_mem", "spill_disk")),
        "index.max_df": _max_df(out_dir),
        "sink.write.self_s": _median(self_per_op("build", "sink.write")),
        "sink.files": sink_files,
        "sink.bytes": sink_bytes,
        "transact.plan_ms": _median(
            [tr.self_time(s) for s in flat(("lookup", "and"), "transact.plan")]
        )
        * 1e3,
        "transact.prune_ms": _median([s.duration for s in prunes]) * 1e3,
        "transact.dirs_read_per_lookup": sum(s.attrs["kept"] for s in prunes)
        / (sum(s.attrs["total"] for s in prunes) or 1),
        "transact.read_ms": _median([s.duration for s in flat(("lookup", "and"), "transact.read")]) * 1e3,
        "transact.commit.self_s": _median(self_per_op("setup", "transact.commit")),
        "transact.commit.bytes_written": _median(res.commit_bytes),
        "transact.commit.files": _median(res.commit_files),
        "search.bm25.self_ms": _median([tr.self_time(s) for s in bm25]) * 1e3,
        "dedup.signatures.self_s": _median(self_per_op("ingest", "dedup.signatures")),
        "dedup.probe.self_s": _median(self_per_op("ingest", "dedup.probe")),
        "dedup.probe.rows_per_batch_doc": _records(probes) / (sum(s.attrs["batch_docs"] for s in probes) or 1),
        "search.bm25.rows_examined_per_result": _records(bm25) / max(results, 1),
        "trace.layer_self_frac": sum(a["layer_self"] for a in acct) / wall,
        "trace.replay_frac": sum(a["replay"] for a in acct) / wall,
        "trace.unaccounted_frac": sum(a["unaccounted"] for a in acct) / wall,
        "trace.overhead_frac": (traced - plain) / plain if plain else 0.0,
    }
    details = {
        "traced_ops": len(acct),
        "traced_op_wall_s": wall,
    }
    return {k: float(values[k]) for k in PER_LAYER}, details


def _records(spans) -> int:
    """Rows the spans' own Spark stages read, from files or from an
    earlier stage's shuffle."""
    return sum(s.attrs.get("input_records", 0) + s.attrs.get("shuffle_read_records", 0) for s in spans)


def _max_df(out_dir: str) -> int:
    """Largest posting in the written letter files: each file's first
    line holds its letter's highest df."""
    best = 0
    for letter in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, letter)
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            if name.startswith("part-") and not name.endswith(".crc"):
                with open(os.path.join(d, name), encoding="utf-8") as fh:
                    first = fh.readline()
                if first:
                    best = max(best, len(first.split(":[", 1)[1].rstrip("]\n").split()))
    return best
