"""Self-tests of the benchmark's own code (no Spark session needed).

    python -m pytest sharebench -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import common  # noqa: E402
import fixtures  # noqa: E402
import tracing  # noqa: E402


class TestStats:
    def test_median_odd_even(self):
        assert common.median([3, 1, 2]) == 2
        assert common.median([4, 1, 3, 2]) == 2.5

    @pytest.mark.parametrize("q,want", [(0, 1.0), (50, 5.5), (90, 9.1),
                                        (100, 10.0)])
    def test_percentile_linear(self, q, want):
        assert common.percentile(range(10, 0, -1), q) == pytest.approx(want)

    def test_percentile_matches_numpy(self):
        np = pytest.importorskip("numpy")
        xs = [0.3, 7.1, 2.2, 9.9, 4.4, 4.4, 1.0]
        for q in (10, 25, 50, 75, 90, 99):
            assert common.percentile(xs, q) == pytest.approx(
                float(np.percentile(xs, q)))

    def test_percentile_single_and_empty(self):
        assert common.percentile([5.0], 90) == 5.0
        with pytest.raises(ValueError):
            common.percentile([], 50)

    def test_mean_of_kind_medians(self):
        samples = {"fast": [1.0, 2.0, 100.0], "slow": [500.0, 510.0, 490.0]}
        # medians 2 and 500: each kind weighs the same whatever its count
        assert common.mean_of_kind_medians(samples) == 251.0
        samples["fast"] += [2.0, 2.0, 2.0, 2.0]
        assert common.mean_of_kind_medians(samples) == 251.0

    def test_iqr_spread_uses_statistics_quantiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, _m, q3 = statistics.quantiles(xs, n=4)
        assert common.iqr_spread(xs) == (q3 - q1) / statistics.median(xs)


class TestSelfTime:
    def test_union_of_overlapping_intervals(self):
        assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
        assert tracing.union_length([]) == 0

    def test_self_time_subtracts_child_union(self):
        # children overlap each other (two threads): covered 2..7 = 5
        assert tracing.self_time((0, 10), [(2, 5), (4, 7)]) == 5

    def test_self_time_clips_children_to_the_span(self):
        assert tracing.self_time((0, 10), [(-3, 2), (9, 12), (20, 30)]) == 7

    def test_nested_children_count_once(self):
        assert tracing.self_time((0, 10), [(1, 9), (2, 3)]) == 2


class TestSeededCycle:
    def ops(self):
        return {k: [common.Op(k, "light", None, (k, i)) for i in range(5)]
                for k in ("a", "b", "c", "d")}

    def test_same_seed_same_cycle(self):
        one = common.seeded_cycle(self.ops(), {"a": 3, "b": 2}, seed=7)
        two = common.seeded_cycle(self.ops(), {"a": 3, "b": 2}, seed=7)
        assert [(o.kind, o.args) for o in one] == \
            [(o.kind, o.args) for o in two]

    def test_reps_and_round_robin(self):
        cyc = common.seeded_cycle(self.ops(), {"a": 3, "b": 2}, seed=7)
        kinds = [o.kind for o in cyc]
        assert sorted(kinds) == ["a", "a", "a", "b", "b", "c", "d"]
        # round-robin: all four kinds appear before any repeats
        assert len(set(kinds[:4])) == 4

    def test_other_seed_other_order(self):
        orders = {tuple(o.kind for o in common.seeded_cycle(
            self.ops(), {}, seed=s)) for s in range(20)}
        assert len(orders) > 1


class TestRunner:
    def test_warm_up_runs_a_fixed_number_of_cycles(self):
        calls = []
        cycle = [common.Op(k, "light", calls.append, (k,)) for k in "ab"]
        common.Runner(cycle, common.HostProbe()).warm_up()
        assert calls == ["a", "b"] * common.WARM_PASSES

    def test_failed_and_wrong_ops_count(self):
        def wrong():
            common.check(False, "wrong answer")

        runner = common.Runner([common.Op("w", "light", wrong),
                                common.Op("ok", "light", lambda: None)],
                               common.HostProbe())
        samples = runner.run_once()
        assert (runner.attempted, runner.failed) == (2, 1)
        assert list(samples) == ["ok"]


class TestSeededInputs:
    def test_lineitem_small_is_deterministic(self, tmp_path):
        a = fixtures.build_lineitem_small(str(tmp_path / "a"), seed=3)
        b = fixtures.build_lineitem_small(str(tmp_path / "b"), seed=3)
        c = fixtures.build_lineitem_small(str(tmp_path / "c"), seed=4)
        assert a.version == 11 and 90 <= len(a.files) <= 110
        assert sorted(a.files) == sorted(b.files)
        assert a.rows() == b.rows()
        assert a.rows() != c.rows()

    def test_log_files_are_identical(self, tmp_path):
        a = fixtures.build_orders(str(tmp_path / "a"), seed=9)
        b = fixtures.build_orders(str(tmp_path / "b"), seed=9)
        for v in range(a.version + 1):
            name = f"{v:020d}.json"
            with open(os.path.join(a.log_dir, name)) as fa, \
                    open(os.path.join(b.log_dir, name)) as fb:
                assert fa.read() == fb.read()

    def test_orders_history_has_dml_with_cdc(self, tmp_path):
        t = fixtures.build_orders(str(tmp_path / "o"), seed=1)
        ops = [h["cdcs"] for h in t.history]
        assert not ops[0] and not ops[1] and not ops[4]
        assert [c["rows"][0]["_change_type"] for c in ops[2]] == ["delete"]
        assert [c["rows"][0]["_change_type"] for c in ops[3]] == \
            ["update_preimage", "update_postimage"]
        deleted = {r["id"] for r in ops[2][0]["rows"]}
        assert deleted and not deleted & {r["id"] for r in t.rows()}

    def test_metadata_literals_repeat_per_seed(self, tmp_path):
        import metadata_serve

        def literals(seed, sub):
            fx = _FakeMetaFixture(str(tmp_path / sub), seed)
            ops = metadata_serve.build_ops(fx, seed)
            return {k: [_plain(o.args) for o in v] for k, v in ops.items()}

        one, two = literals(5, "a"), literals(5, "b")
        assert one == two
        assert literals(6, "c") != one

    def test_recipient_literals_repeat_per_seed(self, tmp_path):
        import recipient_read

        def literals(seed, sub):
            fx = _FakeRecipientFixture(str(tmp_path / sub), seed)
            ops = recipient_read.build_ops(None, fx, _FakePrep(), seed)
            return {k: [_plain(o.args) for o in v] for k, v in ops.items()}

        assert literals(5, "a") == literals(5, "b")
        assert literals(6, "c") != literals(5, "a")

    def test_filtered_scan_matches_rows(self, tmp_path):
        import recipient_read

        fx = _FakeRecipientFixture(str(tmp_path), 5)
        ops = recipient_read.build_ops(None, fx, _FakePrep(), 5)
        mode, lo, hi, want = ops["filtered"][0].args
        rows = [r for r in fx.orders.rows()
                if r["mode"] == mode and lo <= r["id"] <= hi]
        assert 0 < want[0] == len(rows) < len(fx.orders.rows())


def _plain(args):
    """Op literals with file sets made comparable across directories."""
    out = []
    for a in args:
        if isinstance(a, (set, frozenset)):
            a = sorted(a)
        out.append(a)
    return tuple(out)


class _FakeMetaFixture:
    def __init__(self, root, seed):
        self.client = None
        self.small = fixtures.build_lineitem_small(root, seed)
        self.large = {"files": {
            f"data/cat=c{i % 16:02d}/part-{i:08d}.parquet":
                (i, f"c{i % 16:02d}") for i in range(200)},
            "version": 3}


class _FakeRecipientFixture:
    def __init__(self, root, seed):
        self.orders = fixtures.build_orders(root, seed)

    def url(self, table):
        return f"profile#bench.recipient.{table}"


class _FakePrep:
    def kinds(self):
        return {"minhash_lsh": None, "pq_adc": None}
