"""Tests of the benchmark itself: deterministic inputs, the oracles and the
live pipeline on the reference's three scenarios, and the percentile helper.

Run from the repository root: ``python -m pytest joinbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from joinbench import check, gen  # noqa: E402
from joinbench.stats import TooFewSamples, median, percentile, slope  # noqa: E402

# TimeoutJoinTest.scala:106-164 (FIXTURES.md scenarios 1-3), W = 1 s. Each
# scenario gets its own display key so all three run in one pipeline.
K1 = "0f1f53a0-44f5-4b84-9699-fe853c90ed1c"
K2 = "1f1f53a0-44f5-4b84-9699-fe853c90ed1c"
K3 = "2f1f53a0-44f5-4b84-9699-fe853c90ed1c"
UNRELATED = "9750c569-44c2-49e6-854e-01e0eae04bb6"
DISPLAY = '{"type":"display"}'
CLICK = '{"type":"click"}'
T0 = gen.T0_MS
SCENARIO_DISPLAYS = [
    {"key": k, "value": DISPLAY, "ts": gen.fmt_ts(T0)} for k in (K1, K2, K3)
]
SCENARIO_CLICKS = [
    {"key": K1, "value": CLICK, "ts": gen.fmt_ts(T0 + 500)},  # inside W: clicked
    {"key": K2, "value": CLICK, "ts": gen.fmt_ts(T0 + 2000)},  # after W: missed
    {"key": UNRELATED, "value": CLICK, "ts": gen.fmt_ts(T0 + 500)},  # other key: missed
]
WANT_CLICKED = [(K1, '{"display":{"type":"display"},"click":{"type":"click"}}')]
WANT_MISSED = [(K2, DISPLAY), (K3, DISPLAY)]


def test_replay_backlog_is_deterministic_per_seed():
    spec = gen.ReplaySpec(displays=2000, clicks=1000)
    assert gen.replay_backlog(7, spec) == gen.replay_backlog(7, spec)
    assert gen.replay_backlog(7, spec) != gen.replay_backlog(8, spec)


def test_live_schedule_is_deterministic_per_seed():
    spec = gen.LiveSpec()
    assert gen.live_schedule(7, 3, spec) == gen.live_schedule(7, 3, spec)
    assert gen.live_schedule(7, 3, spec) != gen.live_schedule(8, 3, spec)


def test_live_schedule_keeps_lateness_inside_the_watermark_delay():
    spec = gen.LiveSpec()
    events = gen.live_schedule(3, 5, spec)
    late = [e.deliver_ms - e.due_ms for e in events]
    assert max(late) < spec.window_ms
    assert any(late), "some clicks must arrive out of order"


def test_live_schedule_follows_the_three_reference_scenarios():
    spec = gen.LiveSpec()
    events = gen.live_schedule(5, 6, spec)
    displays = {e.key: e.due_ms for e in events if e.stream == "displays"}
    inside = after = other = 0
    for c in (e for e in events if e.stream == "clicks"):
        if c.key not in displays:
            other += 1
        elif c.due_ms - displays[c.key] < spec.window_ms:
            inside += 1
        else:
            after += 1
            assert c.due_ms - displays[c.key] <= 2 * spec.window_ms
    n = inside + after + other
    for count in (inside, after, other):
        assert abs(count / n - 1 / 3) < 0.05


def test_live_backlog_is_the_schedule_cut_into_files():
    spec = gen.LiveSpec()
    d_files, c_files = gen.live_backlog(7, 4, spec, files=2)
    assert (d_files, c_files) == gen.live_backlog(7, 4, spec, files=2)
    assert len(d_files) == len(c_files) == 2
    assert sum(map(len, d_files + c_files)) == len(gen.live_schedule(7, 4, spec))


def test_batch_corpus_is_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    paths = [str(tmp_path / f"{name}.parquet") for name in ("a", "b", "c")]
    for path, seed in zip(paths, (5, 5, 6)):
        gen.write_batch_corpus(path, seed, 5000, users=500)
    a, b, c = (pq.read_table(p) for p in paths)
    assert a.equals(b)
    assert not a.equals(c)


def _write_inputs(base, displays, clicks):
    dirs = {}
    for stream, rows in (("displays", displays), ("clicks", clicks)):
        d = os.path.join(base, stream)
        os.makedirs(d, exist_ok=True)
        gen.write_file(d, "part-000000.json", rows)
        dirs[stream] = d
    return dirs


def test_oracle_sql_on_reference_scenarios(tmp_path):
    dirs = _write_inputs(str(tmp_path), SCENARIO_DISPLAYS, SCENARIO_CLICKS)
    con = check.stream_inputs(dirs["displays"], dirs["clicks"])
    assert sorted(check.expected(con, "clicked", 1000)) == WANT_CLICKED
    assert sorted(check.expected(con, "missed", 1000)) == WANT_MISSED


def test_mismatched_counts_both_directions():
    assert check.mismatched([("a", "1"), ("a", "1")], [("a", "1"), ("a", "1")]) == 0
    assert check.mismatched([("a", "1"), ("a", "1")], [("a", "1"), ("b", "2")]) == 2


def test_percentile_reports_its_sample_count():
    value, n = percentile(list(range(1, 101)), 90)
    assert (value, n) == (90, 100)
    assert percentile([5.0] * 20, 50) == (5.0, 20)


def test_percentile_refuses_fewer_than_ten_samples_beyond():
    with pytest.raises(TooFewSamples):
        percentile(list(range(99)), 90)  # rank 90 leaves 9 beyond
    with pytest.raises(TooFewSamples):
        percentile(list(range(19)), 50)
    with pytest.raises(ValueError):
        percentile([1.0] * 100, 100)


def test_median_and_slope():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5
    assert slope([(0, 1), (1, 3), (2, 5)]) == pytest.approx(2.0)


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    from joinbench import workloads
    from joinbench.observe import Tracer
    from joinbench.run import pin_machine

    work = str(tmp_path_factory.mktemp("joinbench"))
    saved = dict(os.environ)
    pin_machine(work)
    sess = workloads.setup(ROOT, work, Tracer(False, "test"))
    try:
        yield sess
    finally:
        workloads.stop_spark(sess.spark)
        os.environ.clear()
        os.environ.update(saved)


def test_tiny_live_timeout_on_reference_scenarios(session):
    """The scenarios through the live pipeline: both topology outputs as two
    queries on the file source, drained by the future-dated flush."""
    from joinbench import workloads
    from joinbench.observe import Tracer

    m = workloads.Measure(session, 0, 0, Tracer(False, "test"), "scenarios")

    def feed(base, t0_ms):
        _write_inputs(base, SCENARIO_DISPLAYS, SCENARIO_CLICKS)
        return {"rows": len(SCENARIO_DISPLAYS) + len(SCENARIO_CLICKS)}

    run = workloads.run_live_topology(m, feed, window_ms=1000, timeout_s=60)
    assert sorted(run.clicked[0]) == WANT_CLICKED
    assert sorted(run.missed[0]) == WANT_MISSED
    workloads.check_live(m, run, 1000)
    assert (m.attempted, m.failed) == (2, 0)
    # every sink row is attributed to the micro-batch that emitted it
    for rows, batches in (run.clicked, run.missed):
        assert len(workloads.batch_ends(rows, batches)) == len(rows)
