"""Output oracles: what each workload's targets must hold, computed from the
generated inputs alone, and compared with what the engine wrote (read back
with pyarrow, independently of Spark).

Each ``check_*`` returns a list of mismatch descriptions; empty means the
outputs are correct. ``plant=True`` swaps one value of what was read back
before comparing, so a run can prove its oracle catches a wrong row.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

from gen import FileTree, changed_since, file_bytes, is_excluded, max_change_key

# target columns after the job specs' transform (root stripped, arrays and
# owner_region excluded, casts applied), in comparison order
TARGET_COLUMNS = [
    "id", "rev", "modifiedAt", "name", "amount", "attrs_color", "attrs_size",
    "attrs_dims_w", "attrs_dims_h", "owner_team",
]
AUDIT_COLUMNS = ["load_ts"]


def expected_row(rec: dict) -> tuple:
    it = rec["item"]
    return (
        str(it["id"]), str(it["rev"]), it["modifiedAt"], it["name"], f"{it['amount']:.2f}",
        it["attrs"]["color"], str(it["attrs"]["size"]), repr(it["attrs"]["dims"]["w"]),
        repr(it["attrs"]["dims"]["h"]), it["owner"]["team"],
    )


def actual_row(row: dict) -> tuple:
    return tuple(str(row[c]) for c in TARGET_COLUMNS)


def digest(rows: list[tuple]) -> tuple[int, int]:
    """Row count plus an order-insensitive hash of the rows."""
    h = 0
    for r in rows:
        h += int.from_bytes(hashlib.blake2b(repr(r).encode(), digest_size=8).digest(), "big")
    return len(rows), h % 2**64


def read_rows(path: str) -> list[dict]:
    """Rows of every parquet file under ``path`` (partition columns aside)."""
    files = sorted(
        os.path.join(d, n) for d, _, names in os.walk(path) for n in names if n.endswith(".parquet")
    )
    return [row for f in files for row in pq.read_table(f).to_pylist()]


def _plant(rows: list[tuple]) -> None:
    if rows:
        rows[0] = ("planted",) + tuple(rows[0][1:])


def compare_target(label: str, path: str, expected: list[tuple], plant: bool = False) -> list[str]:
    if not os.path.isdir(path):
        return [f"{label}: target {path} missing"]
    raw = read_rows(path)
    if raw and sorted(raw[0]) != sorted(TARGET_COLUMNS + AUDIT_COLUMNS):
        return [f"{label}: target columns {sorted(raw[0])}"]
    actual = [actual_row(r) for r in raw]
    if plant:
        _plant(actual)
    want, got = digest(expected), digest(actual)
    return [] if want == got else [f"{label}: expected (rows, hash) {want}, got {got}"]


def expected_api_target(load_type: str, states: list[dict[int, dict]]) -> list[tuple]:
    """SNP keeps the last state; APPEND keeps every fetched row; INC keeps
    the latest revision per key."""
    if load_type == "APPEND":
        return [expected_row(r) for state in states for r in changed_since(state, None)]
    return [expected_row(r) for r in changed_since(states[-1], None)]


def check_watermarks(watermarks: dict[str, str], expected: dict[str, str]) -> list[str]:
    return [
        f"watermark {key}: expected {want}, got {watermarks.get(key)}"
        for key, want in sorted(expected.items()) if watermarks.get(key) != want
    ]


def read_watermarks(path: str) -> dict[str, str]:
    return {r["job_key"]: r["watermark"] for r in read_rows(path)} if os.path.isdir(path) else {}


def expected_watermark(states: list[dict[int, dict]]) -> str:
    return max_change_key(states[-1])


def check_file_sync(tree: FileTree, deleted: list[str], target_root: str, control_path: str,
                    plant: bool = False) -> list[str]:
    """Every non-excluded source file is at the target with the right MD5,
    excluded files are absent, deleted files are marked isAtSource='N'."""
    problems = []
    target_md5 = {}
    for name in os.listdir(target_root) if os.path.isdir(target_root) else []:
        with open(os.path.join(target_root, name), "rb") as f:
            target_md5[name] = hashlib.md5(f.read()).hexdigest()
    if plant and target_md5:
        target_md5[min(target_md5)] = "planted"
    for rel, key in sorted(tree.files.items()):
        name = rel.rsplit("/", 1)[-1]
        if is_excluded(rel):
            if name in target_md5:
                problems.append(f"excluded file copied: {rel}")
        elif target_md5.get(name) != hashlib.md5(file_bytes(key)).hexdigest():
            problems.append(f"target of {rel}: {'missing' if name not in target_md5 else 'md5 mismatch'}")
    at_source = {
        r["sourceFilePath"]: r["isAtSource"] for r in read_rows(control_path)
    }
    for rel in deleted:
        if at_source.get(tree.path(rel)) != "N":
            problems.append(f"deleted file {rel}: isAtSource={at_source.get(tree.path(rel))}")
    for rel in tree.files:
        if at_source.get(tree.path(rel)) != "Y":
            problems.append(f"source file {rel}: isAtSource={at_source.get(tree.path(rel))}")
    return problems
