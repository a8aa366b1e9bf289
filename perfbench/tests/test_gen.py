"""The input generator is deterministic in its seed."""

import hashlib
import os

import gen


def digest(root: str) -> str:
    """Hash of every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for d, dirs, names in os.walk(root):
        dirs.sort()
        for name in sorted(names):
            path = os.path.join(d, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def inputs(tmp_path, seed: int, name: str) -> str:
    out = str(tmp_path / name)
    gen.write_inputs(seed, out, n_files=300)
    return digest(out)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert inputs(tmp_path, 7, "a") == inputs(tmp_path, 7, "b")


def test_other_seed_gives_other_inputs(tmp_path):
    assert inputs(tmp_path, 7, "a") != inputs(tmp_path, 8, "b")


def test_sizes_do_not_depend_on_the_seed():
    for seed in (1, 2):
        jobs = gen.fanout_jobs(seed)
        assert [len(j.states[0]) for j in jobs] == [
            gen.FANOUT_BASE_ROWS + gen.FANOUT_ROW_STEP * (j % 6) for j in range(gen.FANOUT_JOBS)
        ]
        assert sum(len(j.fail_passes) for j in jobs) == 2 * gen.FANOUT_FIRST_ATTEMPT_FAILURES
        assert sum(j.depends_on is not None for j in jobs) == gen.FANOUT_DEPENDENCIES


def test_planted_failures_never_hit_a_dependency():
    jobs = gen.fanout_jobs(3)
    edges = {j.num for j in jobs if j.depends_on} | {j.depends_on for j in jobs if j.depends_on}
    assert not edges & {j.num for j in jobs if j.fail_passes}


def test_updates_advance_the_change_key():
    for job in gen.fanout_jobs(5):
        before, after = job.states
        since = gen.max_change_key(before)
        changed = gen.changed_since(after, since)
        assert len(after) > len(before)
        assert len(changed) == int(len(before) * gen.UPDATE_SHARE) + int(len(before) * gen.INSERT_SHARE)
        assert all(r["item"]["modifiedAt"] > since for r in changed)


def test_records_keep_arrays_beside_the_root():
    rec = gen.fanout_jobs(1)[0].states[0][1]
    assert set(rec) == {"item", "tags", "links"}
    assert not any(isinstance(v, list) for v in rec["item"].values())


def test_restore_undoes_the_resync_changes(tmp_path):
    tree = gen.make_tree(4, str(tmp_path / "tree"), n_files=300)
    planned = dict(tree.files)
    before = digest(tree.root)
    change = gen.mutate_tree(4, tree)
    assert change.modified and change.added and change.deleted
    assert digest(tree.root) != before
    gen.restore_tree(tree, planned)
    assert digest(tree.root) == before and tree.files == planned
    assert gen.mutate_tree(4, tree) == change
