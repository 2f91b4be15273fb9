"""The generator is deterministic per seed and independent of the engine."""

import os
import re

from gen import Generator, Sizes

SMALL = Sizes(n_docs=400, vocab=3_000, idioms=50, interactive_queries=30,
              bm25_batch=10, phrase_batch=5, bm25f_batch=5,
              percolate_queries=5, ingest_docs=50, ingest_epochs=2)


def _everything(seed: int) -> tuple:
    g = Generator(seed, SMALL)
    stream = g.write_stream(SMALL.n_docs)
    return (
        g.corpus().digest(),
        repr(g.interactive_log()),
        repr(g.batch_logs()),
        [(e["docs"].digest(), e["deletes"].tolist(), e["reads"]) for e in stream],
    )


def test_same_seed_is_byte_identical():
    assert _everything(7) == _everything(7)


def test_seeds_differ_in_every_input():
    a, b = _everything(7), _everything(8)
    assert all(x != y for x, y in zip(a, b))


def test_corpus_shape():
    c = Generator(3, SMALL).corpus()
    assert len(c) == SMALL.n_docs
    assert c.doc_id.tolist() == list(range(SMALL.n_docs))
    # ~3% duplicated contents, keyword heavy hitters in nearly every file
    assert len(c.content) - len(set(c.content)) >= SMALL.n_docs * 0.02
    with_def = sum(1 for t in c.content if re.search(r"\bdef\b", t))
    assert with_def > 0.8 * SMALL.n_docs


def test_write_stream_ids_follow_the_base_corpus():
    g = Generator(3, SMALL)
    first, second = g.write_stream(SMALL.n_docs)
    assert first["docs"].doc_id[0] == SMALL.n_docs
    assert second["docs"].doc_id[0] == SMALL.n_docs + SMALL.ingest_docs
    assert first["deletes"].max() < SMALL.n_docs + SMALL.ingest_docs


def test_generator_does_not_import_the_engine():
    src = open(os.path.join(os.path.dirname(__file__), "..", "gen.py")).read()
    assert "contextinator" not in src
