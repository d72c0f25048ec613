"""Model-based property test of the transactional table protocol:
random interleavings of the table's write operations are replayed
against a trivial in-memory model ({id: payload} per version), and
every live version must read back EXACTLY the model's state — time
travel, fast_count, and history() included. Hypothesis drives the op
sequences; each example uses tiny data so the whole machine stays
seconds-scale while still exercising the cross-products a hand-written
test matrix can't (DV after clustered rewrite, merge over vectored
dirs, vacuum mid-history, constraints over evolution, ...)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
)

from mapreduceindexer_spark.sources.transact import TransactionalTable

# One shared session/table-root per test run (the conftest fixture is
# function-scoped; hypothesis machines need module-level access).
_SPARK = None
_TMP = None


@pytest.fixture(scope="module", autouse=True)
def _bind_spark(spark, tmp_path_factory):
    global _SPARK, _TMP
    _SPARK = spark
    _TMP = tmp_path_factory.mktemp("txn_model")
    yield


def _df(rows: dict[int, int]):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("payload", LongType(), True),
        ]
    )
    return _SPARK.createDataFrame(
        [(k, v) for k, v in sorted(rows.items())], schema
    )


class TableMachine(RuleBasedStateMachine):
    @initialize()
    def setup(self):
        import uuid

        self.t = TransactionalTable(str(_TMP / f"t-{uuid.uuid4().hex[:8]}"))
        self.model: dict[int, dict[int, int]] = {}  # version -> {id: payload}
        self.next_id = 0
        self.counter = 0
        self.carried_to = 0  # newest version the carry invariant checked

    def _fresh_rows(self, n: int) -> dict[int, int]:
        rows = {
            i: i * 1000 + self.counter
            for i in range(self.next_id, self.next_id + n)
        }
        self.next_id += n
        self.counter += 1
        return rows

    def _cur(self) -> dict[int, int]:
        v = self.t.current_version()
        return dict(self.model.get(v, {}))

    def _record(self, v: int, state: dict[int, int]) -> None:
        self.model[v] = state

    @rule(n=st.integers(1, 6))
    def append(self, n):
        rows = self._fresh_rows(n)
        state = self._cur()
        state.update(rows)
        mode = "append" if self.t.current_version() else "overwrite"
        v = self.t.commit(_df(rows), mode=mode, stats_cols=["id"])
        self._record(v, state)

    @rule(n=st.integers(1, 4))
    def overwrite(self, n):
        rows = self._fresh_rows(n)
        v = self.t.commit(_df(rows), mode="overwrite", stats_cols=["id"])
        self._record(v, dict(rows))

    @precondition(lambda self: self.t.current_version() > 0)
    @rule(frac=st.tuples(st.floats(0, 1), st.floats(0, 1)), dv=st.booleans())
    def delete_range(self, frac, dv):
        state = self._cur()
        if not state:
            return
        ids = sorted(state)
        a = ids[int(frac[0] * (len(ids) - 1))]
        b = ids[int(frac[1] * (len(ids) - 1))]
        lo, hi = min(a, b), max(a, b)
        if dv:
            v = self.t.delete_where_dv(_SPARK, "id", lo=lo, hi=hi)
        else:
            v = self.t.delete_where(
                _SPARK, "id", lo=lo, hi=hi, stats_cols=["id"]
            )
        self._record(
            v, {k: p for k, p in state.items() if not lo <= k <= hi}
        )

    @precondition(lambda self: self.t.current_version() > 0)
    @rule(n=st.integers(1, 4), reuse=st.booleans(), eq=st.booleans())
    def merge(self, n, reuse, eq):
        state = self._cur()
        if reuse and state:
            keys = sorted(state)[:n]
            rows = {k: 7_000_000 + k + self.counter for k in keys}
            self.counter += 1
        else:
            rows = self._fresh_rows(n)
        if eq:  # merge-on-read: an equality-delete file plus the rows
            v = self.t.upsert_eq(_SPARK, _df(rows), "id", stats_cols=["id"])
        else:
            v = self.t.merge_rows(
                _SPARK, _df(rows), key="id", stats_cols=["id"]
            )
        state.update(rows)
        self._record(v, state)

    @precondition(lambda self: self.t.current_version() > 0)
    @rule(clustered=st.booleans())
    def compact(self, clustered):
        state = self._cur()
        if clustered and state:
            v = self.t.compact_clustered(
                _SPARK, "id", n_buckets=3, stats_cols=["id"]
            )
        else:
            v = self.t.compact(_SPARK, target_files=2, stats_cols=["id"])
        self._record(v, state)

    @precondition(lambda self: self.t.current_version() > 0)
    @rule()
    def zorder(self):
        state = self._cur()
        if not state:
            return
        v = self.t.compact_zordered(
            _SPARK, "id", "payload", n_bucket_bits=2
        )
        self._record(v, state)

    @precondition(lambda self: len(self.t.versions()) > 2)
    @rule(keep=st.integers(1, 3))
    def vacuum(self, keep):
        self.t.vacuum(keep_versions=keep, grace_seconds=0.0)
        live = set(self.t.versions())
        self.model = {v: s for v, s in self.model.items() if v in live}

    @precondition(lambda self: self.t.current_version() > 0)
    @rule(n=st.integers(1, 4), publish=st.booleans())
    def branch_stage_and_publish(self, n, publish):
        """WAP through the machine: staged commits never perturb main's
        model; an append-only publish lands fork-state + staged rows as
        the next main version; an abandoned branch is dropped."""
        import uuid

        from mapreduceindexer_spark.sources.transact import CommitConflict

        name = f"b{uuid.uuid4().hex[:6]}"
        fork_state = self._cur()
        b = self.t.branch(name)
        rows = self._fresh_rows(n)
        b.commit(_df(rows), mode="append", stats_cols=["id"])
        if publish:
            try:
                v = self.t.publish_branch(name)
            except CommitConflict:  # cannot happen: main never moved
                raise
            staged = dict(fork_state)
            staged.update(rows)
            self._record(v, staged)
        self.t.drop_branch(name)

    @precondition(lambda self: len(self.t.versions()) > 1)
    @rule(pick=st.floats(0, 1))
    def restore(self, pick):
        """RESTORE through the machine: rolling back to any live,
        model-tracked version republishes exactly that version's state
        as the new head (forward-only history — the rolled-over
        versions stay in the model and the read-back invariant keeps
        checking them)."""
        cur = self.t.current_version()
        targets = [
            v for v in self.t.versions() if v != cur and v in self.model
        ]
        if not targets:
            return
        target = targets[int(pick * (len(targets) - 1))]
        v = self.t.restore(target)
        self._record(v, dict(self.model[target]))

    @precondition(lambda self: self.t.current_version() > 0)
    @rule()
    def constraint_roundtrip(self, ):
        """Existing data always satisfies `payload IS NOT NULL` (the
        generator never makes NULLs), so the add validates; a violating
        batch must then refuse without minting a version; drop
        restores writability of anything."""
        import uuid

        from pyspark.sql import functions as F

        name = f"c{uuid.uuid4().hex[:6]}"
        state = self._cur()  # BEFORE the version bump
        v = self.t.add_constraint(_SPARK, name, "payload IS NOT NULL")
        self._record(v, state)  # metadata-only version
        bad = _df(self._fresh_rows(1)).withColumn(
            "payload", F.lit(None).cast("long")
        )
        before = self.t.current_version()
        try:
            self.t.commit(bad, mode="append", stats_cols=["id"])
            raise AssertionError("constraint did not gate the commit")
        except ValueError:
            pass
        assert self.t.current_version() == before
        v2 = self.t.drop_constraint(name)
        self._record(v2, state)

    def _cur_spec(self):
        """The current head's partition spec (or None) read from the
        manifest — mode selection only; CONTENT stays model-tracked."""
        cur = self.t.current_version()
        if cur == 0:
            return None
        m = self.t._manifest(cur)
        col = m.get("meta", {}).get("partitioned_by")
        if col is None:
            return None
        return {
            "col": col,
            "transform": m["meta"].get("partition_transform", "identity"),
        }

    @rule(
        spec=st.sampled_from(["identity", "truncate[3]", "bucket[4]"]),
        evolve=st.booleans(),
        n=st.integers(1, 4),
    )
    def partitioned_commit(self, spec, evolve, n):
        """Partitioned commits through the machine: overwrite when the
        head isn't partitioned; append when it is — a spec CHANGE must
        refuse without evolve=True (and mint no version) and evolve
        when allowed. Layout is orthogonal to content, so the model
        update is the same as append/overwrite."""
        rows = self._fresh_rows(n)
        canon = TransactionalTable._parse_transform(spec)[2]
        cur_spec = self._cur_spec()
        if cur_spec is None:
            v = self.t.commit_partitioned(
                _SPARK, _df(rows), "id", transform=spec, stats_cols=["id"]
            )
            self._record(v, dict(rows))
            return
        changed = cur_spec != {"col": "id", "transform": canon}
        if changed and not evolve:
            before = self.t.current_version()
            try:
                self.t.commit_partitioned(
                    _SPARK, _df(rows), "id", mode="append", transform=spec
                )
                raise AssertionError("spec change without evolve=True")
            except ValueError:
                pass
            assert self.t.current_version() == before
            # The refused batch is gone; ids stay unique, state unchanged.
            return
        state = self._cur()
        state.update(rows)
        v = self.t.commit_partitioned(
            _SPARK,
            _df(rows),
            "id",
            mode="append",
            transform=spec,
            evolve=evolve,
            stats_cols=["id"],
        )
        self._record(v, state)

    @precondition(lambda self: self._cur_spec() is not None)
    @rule()
    def rewrite_partitioned(self):
        """Unifying a (possibly mixed) layout under the current spec
        never changes content."""
        state = self._cur()  # BEFORE the version bump
        v = self.t.rewrite_partitioned(_SPARK, stats_cols=["id"])
        self._record(v, state)

    @rule(
        spec=st.sampled_from(["bucket[4]", "truncate[3]"]),
        n=st.integers(2, 6),
        frac=st.tuples(st.floats(0, 1), st.floats(0, 1)),
        keys=st.lists(st.floats(0, 1), min_size=1, max_size=3),
        point=st.booleans(),
    )
    def dv_delete_then_plan_on_layout(self, spec, n, frac, keys, point):
        """A DV delete on a ``bucket`` or ``truncate`` layout (committed
        first when the head has another layout or no rows), then a plan
        on the new version at once: an IN of present or deleted keys, or
        a range from the deleted range's low end. The delete carries
        dirs, stats and layout verbatim, so the plan keeps the dirs it
        kept before the delete, and its scan returns the model's rows."""
        canon = TransactionalTable._parse_transform(spec)[2]
        if self._cur_spec() != {"col": "id", "transform": canon} or not self._cur():
            rows = self._fresh_rows(n)
            v = self.t.commit_partitioned(
                _SPARK, _df(rows), "id", transform=spec, stats_cols=["id"]
            )
            self._record(v, dict(rows))
        before, state = self.t.current_version(), self._cur()
        ids = sorted(state)
        lo, hi = sorted(ids[int(f * (len(ids) - 1))] for f in frac)
        v = self.t.delete_where_dv(_SPARK, "id", lo=lo, hi=hi)
        self._record(v, {k: p for k, p in state.items() if not lo <= k <= hi})
        probe = [ids[int(f * (len(ids) - 1))] for f in keys]
        where = {"id": probe if point else (lo, None)}
        assert self.t.plan(where, v).kept == self.t.plan(where, before).kept, where
        assert self._plan_scan_matches_model(1.0, where) == v

    def _plan_scan_matches_model(self, pick, where) -> int:
        """``scan(plan(where))`` on a random live version, partitioned
        or not and under any deletes, returns exactly the model's rows
        that ``where`` selects, with the schema of a full read, and the
        plan's ``kept`` and ``skipped`` partition the version's dirs.
        Returns the version."""
        versions = sorted(self.model)
        v = versions[int(pick * (len(versions) - 1))]
        plan = self.t.plan(where, v)
        dirs = self.t._manifest(v)["dirs"]
        assert sorted(plan.kept + plan.skipped) == sorted(dirs), (v, plan)
        assert not set(plan.kept) & set(plan.skipped), (v, plan)

        def selected(k, p):
            for col, pred in where.items():
                x = k if col == "id" else p
                if isinstance(pred, list):
                    if x not in pred:
                        return False
                elif (pred[0] is not None and x < pred[0]) or (
                    pred[1] is not None and x > pred[1]
                ):
                    return False
            return True

        df = self.t.scan(_SPARK, plan)
        got = {r["id"]: r["payload"] for r in df.collect()}
        want = {k: p for k, p in self.model[v].items() if selected(k, p)}
        assert got == want, (v, where, got, want)
        assert df.schema == self.t.read(_SPARK, v).schema, (v, df.schema)
        return v

    @precondition(lambda self: bool(self.model))
    @rule(
        pick=st.floats(0, 1),
        ids=st.tuples(st.floats(0, 1.2), st.floats(0, 1.2)),
        open_side=st.sampled_from([None, 0, 1]),
        payload=st.one_of(
            st.none(), st.tuples(st.floats(0, 1), st.floats(0, 1))
        ),
    )
    def pruned_part_read_matches_filter(self, pick, ids, open_side, payload):
        """A range on ``id`` (one side possibly open), alone or AND a
        range on ``payload``: layout, stats and the residual filter
        together equal a plain filter over the model, for every spec
        kind, single or evolved/mixed."""
        bounds = sorted(int(f * self.next_id) for f in ids)
        if open_side is not None:
            bounds[open_side] = None
        where = {"id": tuple(bounds)}
        if payload is not None:
            top = max(
                (p for s in self.model.values() for p in s.values()),
                default=0,
            )
            where["payload"] = tuple(sorted(int(f * top) for f in payload))
        self._plan_scan_matches_model(pick, where)

    @precondition(lambda self: bool(self.model))
    @rule(pick=st.floats(0, 1), keys=st.lists(st.floats(0, 1.2), max_size=4))
    def point_read_matches_model(self, pick, keys):
        """An IN of 0-4 keys, present or absent, on a random live
        version — served on the driver or, under deletes, scanned by
        Spark. One key also goes through ``read_eq_part``, the term
        lookup's entry point."""
        ids = [int(k * self.next_id) for k in keys]
        v = self._plan_scan_matches_model(pick, {"id": ids})
        if len(ids) == 1:
            df = self.t.read_eq_part(_SPARK, "id", ids[0], version=v)
            got = {r["id"]: r["payload"] for r in df.collect()}
            state = self.model[v]
            want = {ids[0]: state[ids[0]]} if ids[0] in state else {}
            assert got == want, (v, ids, got, want)
            assert df.schema == self.t.read(_SPARK, v).schema

    @invariant()
    def every_live_version_reads_back_exactly(self):
        for v, want in self.model.items():
            got = {
                r["id"]: r["payload"]
                for r in self.t.read(_SPARK, v).collect()
            }
            assert got == want, f"v{v}: {got} != {want}"
            fc = self.t.fast_count(v)
            assert fc is None or fc == len(want), (v, fc, len(want))

    @invariant()
    def each_new_version_carries_its_shared_dirs(self):
        """Every version written since the last check keeps what its
        predecessor (the previous version, or a restore's target)
        recorded about each dir both list: the same stats entry, the
        same ``dv`` and ``eq`` lists or those lists extended, and, when
        the predecessor had a layout and the write added no dir, the
        same spec."""
        cur = self.t.current_version()
        live = set(self.t.versions())
        for v in range(self.carried_to + 1, cur + 1):
            if v not in live:
                continue
            m = self.t._manifest(v)
            base = m.get("meta", {}).get("restored_from", v - 1)
            if base not in live:
                continue
            p = self.t._manifest(base)
            shared = set(p["dirs"]) & set(m["dirs"])
            for d in shared:
                assert m.get("stats", {}).get(d) == p.get("stats", {}).get(d), (v, d)
                for k in ("dv", "eq"):
                    old = p.get(k, {}).get(d, [])
                    assert m.get(k, {}).get(d, [])[: len(old)] == old, (v, k, d)
            p_specs = self.t._dir_specs(p)
            if p_specs is not None and set(m["dirs"]) <= set(p["dirs"]):
                m_specs = self.t._dir_specs(m) or {}
                for d in shared:
                    assert m_specs.get(d) == p_specs.get(d), (v, d)
        self.carried_to = cur

    @invariant()
    def history_rows_match_model(self):
        if not self.model:
            return
        h = {r["version"]: r["n_rows"] for r in self.t.history(_SPARK).collect()}
        for v, want in self.model.items():
            assert h[v] is None or h[v] == len(want), (v, h[v], len(want))


TableMachine.TestCase.settings = settings(
    max_examples=5,
    stateful_step_count=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
TestTableMachine = TableMachine.TestCase
