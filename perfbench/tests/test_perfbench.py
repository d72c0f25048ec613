"""The benchmark's own tests: input determinism, oracle sensitivity and
metric names. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, metrics  # noqa: E402
from perfbench.trace import Span, Tracer  # noqa: E402
from perfbench.workload import SHAPES, Results, bm25_matches, dedup_matches, index_matches  # noqa: E402

SMALL = gen.CorpusSpec(n_docs=300, vocab=2000, min_len=20, max_len=60, n_files=3)


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _write_letters(out_dir: str, postings: dict[str, list[int]]) -> None:
    """Letter files laid out as the engine's sink writes them."""
    for c in gen.LETTERS:
        d = os.path.join(out_dir, f"letter={c}")
        os.makedirs(d, exist_ok=True)
        terms = sorted((t for t in postings if t[0] == c), key=lambda t: (-len(postings[t]), t))
        if terms:
            with open(os.path.join(d, "part-00000.txt"), "w", encoding="utf-8") as fh:
                fh.writelines(f"{t}:[{' '.join(map(str, postings[t]))}]\n" for t in terms)


# -- generator determinism ---------------------------------------------------


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    digests = []
    for run in ("a", "b"):
        texts = gen.corpus(7, SMALL)
        gen.write_docs(str(tmp_path / run), range(len(texts)), texts, SMALL.n_files)
        digests.append(_tree_digest(str(tmp_path / run)))
    assert digests[0] == digests[1]
    post = gen.build_postings_py(range(len(texts)), texts)
    assert gen.query_stream(7, post, 200) == gen.query_stream(7, post, 200)


def test_other_seed_gives_other_inputs():
    assert gen.corpus(7, SMALL) != gen.corpus(8, SMALL)


def test_ingest_batches_are_seeded_and_plant_duplicates():
    texts = gen.corpus(7, SMALL)
    a, b = gen.ingest_batch(7, 1, SMALL, texts), gen.ingest_batch(7, 1, SMALL, texts)
    assert a == b and gen.ingest_batch(7, 2, SMALL, texts) != a
    assert len(a.doc_ids) == 40 and len(set(a.doc_ids)) == 40 and min(a.doc_ids) == SMALL.n_docs + 40
    assert len(a.exact) == len(a.near) == 10 and not a.exact & a.near
    by_id = dict(zip(a.doc_ids, a.texts))
    corpus_texts = set(texts)
    assert all(by_id[d] in corpus_texts for d in a.exact)
    for d in a.near:  # one token differs from some corpus document
        toks = by_id[d].split()
        assert by_id[d] not in corpus_texts
        assert any(
            len(t.split()) == len(toks) and sum(x != y for x, y in zip(t.split(), toks)) == 1 for t in texts
        )


def test_corpus_plants_near_universal_stopwords():
    texts = gen.corpus(3, SMALL)
    post = gen.build_postings_py(range(len(texts)), texts)
    assert len(post["the"]) > 0.9 * SMALL.n_docs


def test_query_stream_mix():
    repeats = {}
    for workload, shape in SHAPES.items():
        spec = gen.CorpusSpec(n_docs=300, vocab=4000, min_len=20, max_len=60, zipf_s=shape.corpus.zipf_s)
        texts = gen.corpus(5, spec)
        post = gen.build_postings_py(range(len(texts)), texts)
        stream = gen.query_stream(5, post, 150, absent_share=shape.absent_share, cold_share=shape.cold_share)
        assert {k: len(v) for k, v in stream.items()} == {"lookup": 150, "and": 150, "bm25": 150}
        ands = stream["and"]
        for start in range(0, 150, 8):  # any 8 consecutive ANDs hold about the share of absent terms
            window = [t for q in ands[start : start + 8] for t in q.terms]
            absent = sum(t not in post for t in window) / len(window)
            assert abs(absent - shape.absent_share) <= 1.5 / len(window) + 1e-9
        terms = [t for qs in stream.values() for q in qs for t in q.terms]
        repeats[workload] = 1 - len(set(terms)) / len(terms)
    # df-weighted draws keep hitting the same hot terms; cold ones rarely repeat.
    assert repeats["hot"] > 2 * repeats["cold"]


# -- oracles catch wrong output ----------------------------------------------


def test_normalizer_matches_engine_semantics():
    assert gen.normalized_terms("Don't  abc123def -- THE.\tx") == ["dont", "abcdef", "the", "x"]


def test_letter_digest_accepts_correct_and_catches_corruption(tmp_path):
    texts = gen.corpus(11, SMALL)
    post = gen.build_postings_py(range(len(texts)), texts)
    digests = gen.letter_digests(post)

    _write_letters(str(tmp_path / "good"), post)
    assert index_matches(str(tmp_path / "good"), digests)

    corrupted = dict(post)
    term = next(t for t in sorted(post) if len(post[t]) > 1)
    corrupted[term] = post[term][:-1] + [post[term][-1] + 1]
    _write_letters(str(tmp_path / "corrupt"), corrupted)
    assert not index_matches(str(tmp_path / "corrupt"), digests)

    dropped = gen.build_postings_py(range(1, len(texts)), texts[1:])
    _write_letters(str(tmp_path / "dropped"), dropped)
    assert not index_matches(str(tmp_path / "dropped"), digests)


def test_bm25_check_catches_dropped_document():
    texts = gen.corpus(13, SMALL)
    oracle = gen.Bm25Oracle(range(len(texts)), texts)
    terms = ("of", "and", gen.normalized_terms(texts[0])[-1])
    want = oracle.topk(terms)
    assert len(want) == 10
    assert bm25_matches(want, want)
    assert bm25_matches([(d, s + 1e-6) for d, s in want], want)
    assert not bm25_matches(want[1:] + [(10**6, want[-1][1])], want)
    assert not bm25_matches(want[:-1], want)
    # Rebuilt without the top document: its slot goes to another doc.
    top = want[0][0]
    ids = [i for i in range(len(texts)) if i != top]
    without = gen.Bm25Oracle(ids, [texts[i] for i in ids]).topk(terms)
    assert not bm25_matches(without, want)


def test_dedup_check_catches_missed_and_false_duplicates():
    texts = gen.corpus(5, SMALL)
    batch = gen.ingest_batch(5, 0, SMALL, texts)
    best = {d: 1.0 for d in batch.exact} | {d: 0.875 for d in batch.near}
    assert dedup_matches(best, batch)
    missed = dict(best)
    missed.pop(next(iter(batch.near)))
    assert not dedup_matches(missed, batch)
    fresh = next(d for d in batch.doc_ids if d not in best)
    assert not dedup_matches(best | {fresh: 0.5}, batch)
    assert not dedup_matches(best | {next(iter(batch.exact)): 0.9375}, batch)


def test_bm25_oracle_matches_textbook_formula():
    texts = ["a b a", "b c", "c c c d"]
    oracle = gen.Bm25Oracle(range(3), texts)
    import math

    dl, avgdl, n = [3, 2, 4], 3.0, 3
    df = 2  # "b" is in docs 0 and 1
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    expect = [
        (i, round(idf * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * dl[i] / avgdl)), 6)) for i in (0, 1)
    ]
    expect.sort(key=lambda x: (-x[1], x[0]))
    assert oracle.topk(["b"]) == expect


# -- metric names --------------------------------------------------------------


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def test_metric_names_and_units_match_benchmark_json():
    assert metrics.END_TO_END == _declared("end_to_end")
    assert metrics.PER_LAYER == _declared("per_layer")


def test_end_to_end_prints_exactly_the_declared_metrics():
    res = Results(tokens=1000)
    for kind, xs in (
        ("setup", [3.0, 1.0, 2.0]),
        ("build", [2.0, 3.0]),
        ("ingest", [4.0, 5.0]),
        ("lookup", [0.1] * 30),
        ("and", [0.2] * 12),
        ("bm25", [1.0] * 4),
    ):
        for x in xs:
            res.add(kind, x, 2 * x)
    values, _ = metrics.end_to_end(res)
    assert list(values) == list(_declared("end_to_end"))
    assert values["setup_s"] == 1.5  # the first, cold persist is left out
    assert values["build_tokens_per_cpu_s"] == 400.0
    assert values["ingest_batch_cpu_p50_s"] == 4.5
    assert all(v > 0 for v in values.values())


def test_tail_rule():
    xs = [float(i) for i in range(1, 201)]
    value, pct = metrics.tail(xs)
    assert value == 190.0 and sum(x > value for x in xs) == 10 and pct == 95.0
    value, pct = metrics.tail([float(i) for i in range(1, 41)])
    assert (value, pct) == (30.0, 75.0)
    assert metrics.tail([float(i) for i in range(1, 9)]) == (6.0, 75.0)
    assert metrics.tail([5.0]) == (5.0, 75.0)


# -- trace accounting ----------------------------------------------------------


def test_self_time_subtracts_children_and_replayed_prefix():
    tr = Tracer(None, enabled=False)
    op = Span(0, "op.build", "r0", None, None, 0.0, 10.0)
    scan = Span(1, "scan", "r0", 0, None, 0.0, 2.0)
    tok = Span(2, "text.tokenize", "r0", 0, 1, 2.0, 5.0)  # forced prefix replays the scan
    sink = Span(3, "sink.write", "r0", 0, 2, 5.0, 9.5)  # the real write replays both
    tr.spans = [op, scan, tok, sink]
    assert [tr.self_time(s) for s in (scan, tok, sink)] == [2.0, 1.0, 1.5]
    assert tr.self_time(op) == 0.5
    assert tr.accounting(op) == {"wall": 10.0, "layer_self": 4.5, "replay": 5.0, "unaccounted": 0.5}
