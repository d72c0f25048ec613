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
    @rule(n=st.integers(1, 4), reuse=st.booleans())
    def merge(self, n, reuse):
        state = self._cur()
        if reuse and state:
            keys = sorted(state)[:n]
            rows = {k: 7_000_000 + k + self.counter for k in keys}
            self.counter += 1
        else:
            rows = self._fresh_rows(n)
        v = self.t.merge_rows(_SPARK, _df(rows), key="id", stats_cols=["id"])
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

    @precondition(lambda self: self._cur_spec() is not None)
    @rule(frac=st.tuples(st.floats(0, 1), st.floats(0, 1)))
    def pruned_part_read_matches_filter(self, frac):
        """Layout pruning on the head must equal a plain filter over
        the model for every spec kind, single or evolved/mixed."""
        state = self._cur()
        if not state:
            return
        ids = sorted(state)
        a = ids[int(frac[0] * (len(ids) - 1))]
        b = ids[int(frac[1] * (len(ids) - 1))]
        lo, hi = min(a, b), max(a, b)
        got = {
            r["id"]: r["payload"]
            for r in self.t.read_pruned_part(
                _SPARK, "id", lo, hi
            ).collect()
        }
        want = {k: p for k, p in state.items() if lo <= k <= hi}
        assert got == want, (lo, hi, got, want)

    @precondition(lambda self: bool(self.model))
    @rule(pick=st.floats(0, 1), key=st.floats(0, 1.2))
    def point_read_matches_model(self, pick, key):
        """A point read of a random key (present or absent) on a random
        live version — served on the driver or, under deletes, scanned
        by Spark — returns exactly the model's row, with the schema of
        a full read of that version. Partitioned versions also go
        through the layout prune (``read_eq_part``)."""
        versions = sorted(self.model)
        v = versions[int(pick * (len(versions) - 1))]
        k = int(key * self.next_id)
        state = self.model[v]
        want = {k: state[k]} if k in state else {}
        reads = [self.t.read_eq(_SPARK, "id", k, version=v)]
        if self.t._dir_specs(self.t._manifest(v)) is not None:
            reads.append(self.t.read_eq_part(_SPARK, "id", k, version=v))
        schema = self.t.read(_SPARK, v).schema
        for df in reads:
            got = {r["id"]: r["payload"] for r in df.collect()}
            assert got == want, (v, k, got, want)
            assert df.schema == schema, (v, df.schema, schema)

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
