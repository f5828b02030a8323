from perfbench import gen
from perfbench.embedfn import hashed_projection


def test_collection_and_rounds_deterministic_per_seed():
    a, b, c = gen.collection(5), gen.collection(5), gen.collection(6)
    assert a.texts == b.texts
    assert gen.search_round(a, 0) == gen.search_round(b, 0)
    assert a.texts != c.texts
    assert gen.search_round(a, 0) != gen.search_round(c, 0)
    assert gen.search_round(a, 0) != gen.search_round(a, 1)
    assert len(a.texts) == gen.N_DOCS == len(set(a.texts))


def test_rounds_hold_the_stated_mix():
    coll = gen.collection(1)
    for r in range(5):
        classes = [c for c, _ in gen.search_round(coll, r)]
        assert len(classes) == sum(gen.SEARCH_ROUND.values())
        for cls, n in gen.SEARCH_ROUND.items():
            assert classes.count(cls) == n
        ops = gen.curate_round(1, r)
        assert sorted(ops) == sorted(c for c, n in gen.CURATE_ROUND.items()
                                     for _ in range(n))
    assert gen.curate_round(1, 0) == gen.curate_round(1, 0)
    assert [gen.curate_round(1, r) for r in range(20)] != [
        gen.curate_round(2, r) for r in range(20)]


def test_ingest_batches_deterministic_with_stated_shares():
    coll = gen.collection(3)
    b1, b2 = gen.ingest_batch(coll, 4), gen.ingest_batch(coll, 4)
    assert b1 == b2
    assert gen.ingest_batch(coll, 5).texts != b1.texts
    assert gen.ingest_batch(gen.collection(4), 4).texts != b1.texts
    assert len(b1.ids) == gen.BATCH_SIZE == len(set(b1.ids))
    assert len(b1.exact_copy_ids) == round(gen.BATCH_SIZE * gen.EXACT_SHARE)
    assert len(b1.within_copy_ids) == round(gen.BATCH_SIZE * gen.WITHIN_SHARE)
    assert not set(b1.ids) & set(gen.ingest_batch(coll, 5).ids)


def test_admitted_ids_drop_known_and_keep_min_id():
    coll = gen.collection(3)
    b = gen.ingest_batch(coll, 0)
    known = {gen.normalized_key(t) for t in coll.texts}
    admitted = gen.admitted_ids(b, known)
    assert not set(admitted) & set(b.exact_copy_ids)
    # every within-batch pair collapses to one doc
    assert len(admitted) == len({gen.normalized_key(t) for t in b.texts} - known)
    by_key = {}
    for d, t in zip(b.ids, b.texts):
        by_key.setdefault(gen.normalized_key(t), []).append(d)
    for d, k in admitted.items():
        assert d == min(by_key[k])


def test_normalized_key_ignores_case_and_spacing():
    assert gen.normalized_key("Ab  c\nd ") == gen.normalized_key("ab c d")
    assert gen.normalized_key("ab c d") != gen.normalized_key("ab c e")


def test_curate_inputs_deterministic_with_injected_copies():
    a, b, c = gen.curate_inputs(2), gen.curate_inputs(2), gen.curate_inputs(3)
    assert a == b
    assert a.texts != c.texts
    text = dict(zip(a.ids, a.texts))
    base = len(a.ids) - len(a.exact_copy_ids) - len(a.near_dup_pairs) - len(
        a.low_quality_ids)
    assert min(a.exact_copy_ids) >= base
    for d in a.exact_copy_ids:
        key = gen.normalized_key(text[d])
        assert any(gen.normalized_key(text[o]) == key for o in range(base))
    for orig, copy in a.near_dup_pairs:
        assert orig < base <= copy
        assert text[orig].startswith(text[copy])
    assert len(set(a.sources)) > 1


def test_vocabulary_is_fixed_and_distinct():
    v = gen.vocabulary(500)
    assert v == gen.vocabulary(500) and len(set(v)) == 500
    assert not set(v) & set(gen.STOP_WORDS)


def test_hashed_projection_is_deterministic_unit_norm():
    a = hashed_projection(["Alpha beta", None, "alpha  BETA"])
    assert a[1] is None
    assert a[0] == a[2]
    assert abs(sum(x * x for x in a[0]) - 1.0) < 1e-12
    assert len(a[0]) == gen.DIM
