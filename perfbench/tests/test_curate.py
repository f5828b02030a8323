import types

from perfbench.curate import Ladder


def _curate(tmp_path, warm_ids, survivors):
    c = Ladder(None, None, seed=1, state_dir=str(tmp_path))
    c.inp = types.SimpleNamespace(exact_copy_ids=[9])
    c.warm_ids = warm_ids
    c._survivors = lambda tag: survivors[tag]
    return c


def test_first_run_of_a_seed_still_compares_with_the_warmup(tmp_path):
    # no digest recorded yet: a pass that differs from the warm-up fails
    c = _curate(tmp_path, [1, 2, 3], {0: [1, 2]})
    assert not c._check(0)


def test_stable_survivors_pass_and_later_runs_must_match(tmp_path):
    assert _curate(tmp_path, [1, 2, 3], {0: [1, 2, 3]})._check(0)
    # a later run of the seed whose passes agree with each other but not
    # with the recorded digest fails
    assert not _curate(tmp_path, [1, 2], {0: [1, 2]})._check(0)
    assert _curate(tmp_path, [1, 2, 3], {0: [1, 2, 3]})._check(0)


def test_a_surviving_exact_copy_fails(tmp_path):
    assert not _curate(tmp_path, [1, 9], {0: [1, 9]})._check(0)
