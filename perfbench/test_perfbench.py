"""Self-tests of the benchmark: input determinism, the replay oracle, and
the span/job arithmetic of the traced mode. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.generate_cdc(a, 7, 3)
    gen.generate_cdc(b, 7, 3)
    gen.generate_cdc(c, 8, 3)
    assert _files(a) == _files(b) == _files(c)
    assert all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
               for f in _files(a))
    assert not all(filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)
                   for f in _files(a))


def test_replay_agrees_with_fixture_oracle():
    from cdc_local_data_pipeline_docker_spark.cdc import fixtures as FX

    for table in gen.TOPICS:
        events = FX.generate_table_events(table)
        lines = [json.dumps({k: v for k, v in e.items() if k != "_kind"})
                 for e in events]
        got = {pk: row for pk, (row, _) in gen.replay_live(lines, table).items()}
        assert got == FX.expected_live_rows(events, table)


def test_generator_state_matches_replay_of_its_files(tmp_path):
    inp = gen.generate_cdc(str(tmp_path), 3, 4)
    for topic in gen.TOPICS:
        lines = []
        for c in range(inp.n_cycles + 1):
            with open(inp.files[topic, c]) as f:
                lines += f.read().splitlines()
            live = gen.replay_live(lines, topic)
            crc = sum(gen.row_crc(topic, row, off) for row, off in live.values())
            assert inp.expect[topic, c] == (len(live), crc)
        n_bad = sum(1 for line in lines if json.loads(line)["value"] == gen.MALFORMED_VALUE)
        assert n_bad == inp.malformed[topic, inp.n_cycles] > 0
    assert 0.5 < inp.recent_update_share <= 1.0


def _event_log(path, jobs):
    """Write a minimal Spark event log: (job id, submit, end, stage, task
    run ms, task cpu ns) per job, one task each."""
    with open(path, "w") as f:
        for jid, submit, end, stage, run_ms, cpu_ns in jobs:
            f.write(json.dumps({"Event": "SparkListenerJobStart", "Job ID": jid,
                                "Submission Time": submit, "Stage IDs": [stage]}) + "\n")
            f.write(json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                                "Task Metrics": {"Executor Run Time": run_ms,
                                                 "Executor CPU Time": cpu_ns,
                                                 "Input Metrics": {"Records Read": 5}}})
                    + "\n")
            f.write(json.dumps({"Event": "SparkListenerJobEnd", "Job ID": jid,
                                "Completion Time": end}) + "\n")


def test_job_attribution_and_self_time(tmp_path):
    _event_log(tmp_path / "app-1", [
        (0, 20.0, 50.0, 0, 30, 10**9),    # inside op A, under its tablelog child
        (1, 150.0, 180.0, 1, 20, 0),      # inside op B
        (2, 300.0, 310.0, 2, 10, 0),      # outside every op
    ])
    jobs = tracing.read_event_log(str(tmp_path))
    assert [j.jid for j in jobs] == [0, 1, 2]
    spans = [
        tracing.Span("op.cycle", 0.0, 100.0, None, 1, 0),
        tracing.Span("tablelog.merge_cdc", 10.0, 60.0, 0, 1, 1),
        tracing.Span("op.cycle", 120.0, 200.0, None, 2, 2),
    ]
    a, b = tracing.op_spark_counters([spans[0], spans[2]], jobs, slots=2)
    assert (a["jobs"], a["tasks"], a["input_records"]) == (1, 1, 5)
    assert a["executor_cpu_s"] == 1.0 and a["job_busy_s"] == 0.03
    assert abs(a["driver_gap_s"] - 0.07) < 1e-12
    assert abs(a["slot_busy_ratio"] - 0.03 / (2 * 0.1)) < 1e-12
    assert (b["jobs"], b["job_busy_s"]) == (1, 0.03)
    shares = tracing.layer_shares(spans, [0, 2], jobs)
    # op A: 100 ms = tablelog self 50 (30 of it in job 0) + harness 50;
    # op B: 80 ms = harness 80 (30 of it in job 1)
    assert shares == {"harness": 100 / 180, "spark": 60 / 180, "tablelog": 20 / 180}


def test_interval_arithmetic():
    assert tracing.union([(5, 7), (0, 2), (1, 3)]) == [(0, 3), (5, 7)]
    assert tracing.subtract([(0, 10)], [(2, 3), (5, 12)]) == [(0, 2), (3, 5)]
    assert tracing.length(tracing.clip([(0, 4), (6, 9)], 2, 7)) == 3


def test_benchmark_json_names_every_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_cdc_window_ends_cleanly_when_a_topic_runs_out(tmp_path, monkeypatch):
    # ops far faster than any real cycle exhaust the generated batches
    # before --seconds pass: the window must stop without a failed op
    run = workloads.Run(seed=1, seconds=60, traced=False, work=str(tmp_path))
    monkeypatch.setattr(run, "start_session", lambda: 0.0)
    monkeypatch.setattr(run, "record_memory", lambda: None)
    inp = gen.generate_cdc(str(tmp_path / "stage"), 1, 3)
    stream = workloads.CdcStream(inp, str(tmp_path / "land"))

    def cycle(topic, timed):
        stream.land_next(topic)
        return True

    _, _, walls = workloads._cdc_loop(run, stream, stream.land_next, cycle)
    assert (run.failed, run.errors) == (0, [])
    assert len(walls) >= len(gen.TOPICS)
    assert any(stream.exhausted(t) for t in gen.TOPICS)
