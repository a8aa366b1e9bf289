"""Seeded, deterministic inputs for the ingestion benchmark.

Every input the benchmark feeds the engine comes from here and depends on
the seed alone: the same seed gives byte-identical inputs, another seed
gives other values. Sizes (jobs, rows per job, files) are fixed by the
constants below and do not vary with the seed, so runs on different seeds
do the same amount of work.

API records are nested JSON. The record body sits under the root struct
``item``, which the job specs select, flatten and strip (``item_`` prefix).
Array fields (``tags``, ``links``) sit beside the root and are listed only in
``excludeColumns``: ``flatten_dataframe`` explodes every array it meets, which
would duplicate primary keys and break the INC merge.

Run ``python3 perfbench/gen.py --seed N --out DIR`` to write one seed's
inputs to DIR (the API sources as JSON lines, the file tree as files).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

EPOCH = dt.datetime(2024, 1, 1)
COLORS = ["red", "green", "blue", "black", "white", "amber"]
TEAMS = ["ingest", "finance", "geo", "wells", "hr", "legal"]
REGIONS = ["emea", "amer", "apac"]
WORDS = ["alpha", "bravo", "delta", "echo", "kilo", "lima", "oscar", "tango", "zulu"]

# api_fanout: job j has FANOUT_BASE_ROWS + FANOUT_ROW_STEP * (j % 6) rows,
# served FANOUT_PAGE_ROWS per page (1-3 pages per job)
FANOUT_JOBS = 8
FANOUT_BASE_ROWS = 200
FANOUT_ROW_STEP = 100
FANOUT_PAGE_ROWS = 300
FANOUT_FIRST_ATTEMPT_FAILURES = 1  # per pass
FANOUT_DEPENDENCIES = 2
UPDATE_SHARE = 0.10
INSERT_SHARE = 0.03

# file_sync: a tree of FILES_TOTAL files under FILE_TOP_DIRS first-level dirs
FILES_TOTAL = 4_000
FILE_TOP_DIRS = 16
FILE_SUB_DIRS = 4
FILE_EXTENSIONS = ["pdf", "docx", "txt", "csv", "jpg", "xlsx", "tmp", "bak"]
EXCLUDED_EXTENSIONS = {"tmp", "bak"}
EXCLUDED_NAME_TERMS = {"draft"}
MODIFY_SHARE = 0.10
TOUCH_SHARE = 0.03
ADD_SHARE = 0.03
DELETE_SHARE = 0.03
ADDED_SERIAL_BASE = 10**6  # serials of files the re-sync adds


def stamp(seconds: int) -> str:
    """Fixed-width ISO timestamp: string order is time order, so a string
    watermark compares correctly."""
    return (EPOCH + dt.timedelta(seconds=seconds)).strftime("%Y-%m-%dT%H:%M:%S")


def make_record(rng: random.Random, rid: int, rev: int, modified_s: int) -> dict:
    return {
        "item": {
            "id": rid,
            "rev": rev,
            "modifiedAt": stamp(modified_s),
            "name": f"{rng.choice(WORDS)}-{rng.randrange(10**6):06d}",
            "amount": round(rng.uniform(0, 100_000), 2),
            "attrs": {
                "color": rng.choice(COLORS),
                "size": rng.randrange(1, 1000),
                "dims": {"w": round(rng.uniform(0, 50), 3), "h": round(rng.uniform(0, 50), 3)},
            },
            "owner": {"team": rng.choice(TEAMS), "region": rng.choice(REGIONS)},
        },
        "tags": [rng.choice(WORDS) for _ in range(rng.randrange(1, 4))],
        "links": [{"rel": "self", "href": f"/items/{rid}"}],
    }


def evolve(rng: random.Random, state: dict[int, dict], clock: int) -> tuple[dict[int, dict], int]:
    """Next source state: UPDATE_SHARE of rows get a new revision and
    INSERT_SHARE new rows appear, all stamped after ``clock``. Returns the
    new state and the new clock (the max change key)."""
    ids = sorted(state)
    n_upd = max(1, int(len(ids) * UPDATE_SHARE))
    n_ins = max(1, int(len(ids) * INSERT_SHARE))
    nxt = dict(state)
    next_id = ids[-1] + 1
    changed = [(rid, state[rid]["item"]["rev"] + 1) for rid in rng.sample(ids, n_upd)]
    changed += [(next_id + i, 1) for i in range(n_ins)]
    for rid, rev in changed:
        clock += rng.randrange(1, 30)
        nxt[rid] = make_record(rng, rid, rev, clock)
    return nxt, clock


def initial_state(rng: random.Random, n_rows: int, first_id: int = 1) -> tuple[dict[int, dict], int]:
    clock = 0
    state = {}
    for rid in range(first_id, first_id + n_rows):
        clock += rng.randrange(1, 30)
        state[rid] = make_record(rng, rid, 1, clock)
    return state, clock


@dataclass
class ApiJob:
    """One API source: its spec fields and its source state per pass."""

    num: int
    load_type: str
    states: list[dict[int, dict]]  # one per pass
    fail_passes: set[int] = field(default_factory=set)  # passes whose first fetch 404s
    depends_on: int | None = None


def fanout_jobs(
    seed: int,
    n_jobs: int = FANOUT_JOBS,
    failures: int = FANOUT_FIRST_ATTEMPT_FAILURES,
    dependencies: int = FANOUT_DEPENDENCIES,
) -> list[ApiJob]:
    """``n_jobs`` sources with a fixed row-count and load-type mix; the seed
    picks values, which ``failures`` jobs per pass fail their first attempt
    and the ``dependencies`` edges (on jobs that never fail)."""
    if 2 * failures + 2 * dependencies > n_jobs:
        raise ValueError("too few jobs for the planted failures and dependencies")
    rng = random.Random(f"fanout-{seed}")
    load_types = ["SNP", "APPEND", "INC"]
    jobs = []
    for j in range(n_jobs):
        state, clock = initial_state(rng, FANOUT_BASE_ROWS + FANOUT_ROW_STEP * (j % 6))
        second, _ = evolve(rng, state, clock)
        jobs.append(ApiJob(num=j + 1, load_type=load_types[j % 3], states=[state, second]))
    order = list(range(n_jobs))
    rng.shuffle(order)
    for p in range(2):
        for j in order[p * failures:(p + 1) * failures]:
            jobs[j].fail_passes.add(p)
    for k in range(dependencies):
        up, down = order[-1 - 2 * k], order[-2 - 2 * k]
        jobs[down].depends_on = jobs[up].num
    return jobs


def changed_since(state: dict[int, dict], since: str | None) -> list[dict]:
    """Rows of ``state`` modified after ``since`` (all rows when None),
    in id order — what the API returns for ``modifiedSince='since'``."""
    return [
        rec for _, rec in sorted(state.items())
        if since is None or rec["item"]["modifiedAt"] > since
    ]


def max_change_key(state: dict[int, dict]) -> str:
    return max(rec["item"]["modifiedAt"] for rec in state.values())


# ---------------------------------------------------------------- file tree
@dataclass
class FileTree:
    """The source tree's expected content: relative path -> bytes seed."""

    root: str
    files: dict[str, int]

    def path(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    def seed_dirs(self) -> list[str]:
        return [os.path.join(self.root, f"d{t:02d}") for t in range(FILE_TOP_DIRS)]


def file_bytes(key: int) -> bytes:
    """File content for a content key: mostly small, a tail of larger files."""
    rng = random.Random(key)
    size = rng.choice([512, 1024, 2048, 4096, 8192]) if rng.random() < 0.9 else rng.randrange(16_384, 65_536)
    return rng.randbytes(size)


def is_excluded(rel: str) -> bool:
    name = rel.rsplit("/", 1)[-1]
    ext = name.rsplit(".", 1)[-1].lower()
    return ext in EXCLUDED_EXTENSIONS or any(t in name.lower() for t in EXCLUDED_NAME_TERMS)


def _file_name(rng: random.Random, serial: int) -> str:
    word = rng.choice(WORDS + ["draft"])
    return f"f{serial:06d}_{word}.{rng.choice(FILE_EXTENSIONS)}"


def plan_tree(seed: int, root: str, n_files: int = FILES_TOTAL) -> FileTree:
    """The paths and content keys of ``n_files`` files under ``root``,
    without writing them. File names are unique across the tree because the
    pipeline lands every file flat under one target directory."""
    rng = random.Random(f"tree-{seed}")
    files = {}
    for serial in range(n_files):
        rel = f"d{serial % FILE_TOP_DIRS:02d}/s{rng.randrange(FILE_SUB_DIRS)}/{_file_name(rng, serial)}"
        files[rel] = rng.getrandbits(63)
    return FileTree(root, files)


def make_tree(seed: int, root: str, n_files: int = FILES_TOTAL) -> FileTree:
    """Write the planned tree's files under ``root``."""
    tree = plan_tree(seed, root, n_files)
    write_tree(tree)
    return tree


def write_tree(tree: FileTree) -> None:
    for rel, key in tree.files.items():
        _write(tree.path(rel), file_bytes(key))


def restore_tree(tree: FileTree, files: dict[str, int]) -> None:
    """Undo ``mutate_tree``: write back the files of ``files`` it modified
    or deleted and remove those it added. Touched files keep their new
    modification time."""
    for rel in tree.files.keys() - files.keys():
        os.remove(tree.path(rel))
    for rel, key in files.items():
        if tree.files.get(rel) != key:
            _write(tree.path(rel), file_bytes(key))
    tree.files = dict(files)


def _write(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


@dataclass
class TreeChange:
    modified: list[str]
    touched: list[str]
    added: list[str]
    deleted: list[str]


def mutate_tree(seed: int, tree: FileTree) -> TreeChange:
    """The re-sync delta: modify, touch (mtime only), add and delete shares
    of the files, in place on disk and in ``tree.files``."""
    rng = random.Random(f"resync-{seed}")
    rels = sorted(tree.files)
    rng.shuffle(rels)
    n = len(rels)
    cuts = [0]
    for share in (MODIFY_SHARE, TOUCH_SHARE, DELETE_SHARE):
        cuts.append(cuts[-1] + int(n * share))
    modified, touched, deleted = (rels[a:b] for a, b in zip(cuts, cuts[1:]))
    for rel in modified:
        tree.files[rel] = rng.getrandbits(63)
        _write(tree.path(rel), file_bytes(tree.files[rel]))
    for rel in touched:
        os.utime(tree.path(rel))
    for rel in deleted:
        os.remove(tree.path(rel))
        del tree.files[rel]
    added = []
    for i in range(int(n * ADD_SHARE)):
        serial = ADDED_SERIAL_BASE + i
        rel = f"d{serial % FILE_TOP_DIRS:02d}/s{rng.randrange(FILE_SUB_DIRS)}/{_file_name(rng, serial)}"
        tree.files[rel] = rng.getrandbits(63)
        _write(tree.path(rel), file_bytes(tree.files[rel]))
        added.append(rel)
    return TreeChange(modified, touched, added, deleted)


def write_inputs(seed: int, out: str, n_files: int = FILES_TOTAL) -> None:
    """Write one seed's inputs under ``out``: every fan-out job's records as
    JSON lines, the file tree before and after the re-sync's changes."""
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "fanout.jsonl"), "w") as f:
        for job in fanout_jobs(seed):
            meta = {"job": job.num, "load_type": job.load_type, "fail_passes": sorted(job.fail_passes),
                    "depends_on": job.depends_on}
            f.write(json.dumps(meta) + "\n")
            for p, state in enumerate(job.states):
                for rec in changed_since(state, None):
                    f.write(json.dumps({"job": job.num, "pass": p, "record": rec}) + "\n")
    make_tree(seed, os.path.join(out, "tree"), n_files)
    mutate_tree(seed, make_tree(seed, os.path.join(out, "tree_resync"), n_files))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory to write the inputs into")
    args = ap.parse_args()
    write_inputs(args.seed, args.out)
    print(f"wrote the API sources and the file trees to {args.out}")


if __name__ == "__main__":
    main()
