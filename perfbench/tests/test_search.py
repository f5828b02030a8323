import math

from perfbench.search import TfidfReference, topk_matches


def test_topk_matches_accepts_any_valid_tie_order():
    ref = {1: 0.9, 2: 0.5, 3: 0.5, 4: 0.1}
    assert topk_matches([(1, 0.9), (2, 0.5)], ref, 2)
    assert topk_matches([(1, 0.9), (3, 0.5)], ref, 2)
    assert topk_matches([(1, 0.9 + 1e-12), (3, 0.5)], ref, 2)


def test_topk_matches_rejects_wrong_results():
    ref = {1: 0.9, 2: 0.5, 3: 0.4}
    assert not topk_matches([(2, 0.5), (3, 0.4)], ref, 2)  # missed the top
    assert not topk_matches([(1, 0.8), (2, 0.5)], ref, 2)  # wrong score
    assert not topk_matches([(1, 0.9)], ref, 2)  # too short
    assert not topk_matches([(1, 0.9), (1, 0.9)], ref, 2)  # duplicate
    assert not topk_matches([(1, 0.9), (9, 0.5)], ref, 2)  # unknown id


def test_tfidf_reference_law():
    ids = [0, 1, 2]
    texts = ["a b", "a c", "b b d"]
    ref = TfidfReference(ids, texts, min_freq=2)
    # c and d occur once: out of vocabulary
    assert set(ref.idf) == {"a", "b"}
    idf_a = math.log(4 / 3) + 1
    assert math.isclose(ref.idf["a"], idf_a)
    s = ref.scores("a")
    # doc 1 holds only one in-vocabulary term: cosine 1 with the query
    assert math.isclose(s[1], 1.0)
    assert s[2] == 0.0
    assert 0.0 < s[0] < 1.0
