"""The write workload's reference agrees with the engine's own brute-force
oracle and keeps build-time statistics across deletes."""

from contextinator_spark.oracle import BruteForceBM25

from gen import Generator, Sizes
from reference import TombstoneBM25, same_ranking


def test_reference_matches_brute_force_oracle_and_tombstones():
    g = Generator(5, Sizes(n_docs=200, vocab=1_000, idioms=30))
    c = g.corpus()
    ref = TombstoneBM25()
    ref.add(c.doc_id, c.content)
    oracle = BruteForceBM25(dict(zip(c.doc_id.tolist(), c.content)))
    for q in (["def"], ["self", "import"], [str(g.identifiers[30])]):
        assert same_ranking(ref.topk(q), oracle.topk(q))
    before = ref.topk(["def", "return"], k=20)
    gone = {before[0][1], before[3][1]}
    ref.delete(gone)
    after = ref.topk(["def", "return"], k=18)
    # survivors keep their scores; deleted docs are only hidden
    assert after == [
        (i + 1, d, s) for i, (_, d, s) in enumerate(r for r in before if r[1] not in gone)
    ]


def test_boolean_reference_occur_semantics():
    from reference import boolean_reference

    oracle = BruteForceBM25({1: "alpha beta", 2: "alpha gamma", 3: "beta gamma", 4: "delta"})
    score = {d: oracle.score(d, ["alpha", "beta"]) for d in (1, 2, 3)}
    must = [d for _, d, _ in boolean_reference(oracle, "+alpha beta")]
    assert sorted(must) == [1, 2] and must[0] == 1  # beta only adds score
    assert [d for _, d, _ in boolean_reference(oracle, "alpha beta -gamma")] == [1]
    should = boolean_reference(oracle, "alpha beta")
    assert {d for _, d, _ in should} == {1, 2, 3}
    assert should[0][2] == round(score[1], 6)
    assert boolean_reference(oracle, '"alpha beta" gamma') is None
