"""The target oracle accepts the expected rows in any order and catches a
planted wrong value."""

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracles


def write_target(path, rows: list[tuple]) -> None:
    columns = oracles.TARGET_COLUMNS + oracles.AUDIT_COLUMNS
    data = {c: [r[i] for r in rows] for i, c in enumerate(oracles.TARGET_COLUMNS)}
    data["load_ts"] = ["2024-06-01 00:00:00"] * len(rows)
    path.mkdir()
    pq.write_table(pa.table({c: data[c] for c in columns}), path / "part-0.parquet")


def test_inc_target_matches_keep_latest_in_any_order(tmp_path):
    job = gen.fanout_jobs(3, n_jobs=6, failures=0, dependencies=0)[2]
    assert job.load_type == "INC"
    expected = oracles.expected_api_target("INC", job.states)
    write_target(tmp_path / "t", list(reversed(expected)))
    assert oracles.compare_target("t", str(tmp_path / "t"), expected) == []
    assert len(oracles.compare_target("t", str(tmp_path / "t"), expected, plant=True)) == 1


def test_stale_revision_is_a_mismatch(tmp_path):
    job = gen.fanout_jobs(3, n_jobs=6, failures=0, dependencies=0)[2]
    stale = oracles.expected_api_target("SNP", job.states[:1])
    assert len(stale) < len(job.states[1])
    write_target(tmp_path / "t", stale)
    assert oracles.compare_target("t", str(tmp_path / "t"), oracles.expected_api_target("INC", job.states))
