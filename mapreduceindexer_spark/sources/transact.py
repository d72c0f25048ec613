"""Minimal transactional table format: snapshot isolation, time travel,
optimistic concurrency — pure parquet + atomic manifests, no external
jars (the container ships no Delta/Iceberg; this is the documented seam
made real, generalizing streaming/index_stream.py's manifest protocol).

Layout::

    table_dir/
      snap-<uuid>/            one immutable parquet directory per commit
      _manifests/v<N>.json    manifest N: the ordered list of snapshot
                              dirs that make up version N

Protocol (all on POSIX atomicity, same discipline as the streaming
index state):

- A commit writes its parquet snapshot dir first, fsyncs it, then
  publishes manifest ``v<N>.json`` via ``os.link`` of a fsynced temp
  file — hard-link creation is an atomic compare-and-swap (it FAILS if
  the name exists), so two racing committers for the same version
  cannot both win; the loser gets ``CommitConflict`` and must re-read
  and retry. The manifest directory is fsynced after the link so the
  commit survives power loss.
- Readers resolve a version to its manifest and read exactly the
  snapshot dirs it lists. A crash between snapshot write and manifest
  link leaves an unreferenced ``snap-*`` dir — invisible to every
  reader, reclaimed by ``vacuum``. No reader can ever observe a torn
  version.
- ``append`` manifests list the previous version's dirs plus the new
  one: appends never rewrite data, so commit cost is O(new data) and
  manifest cost O(#snapshots) — at 100 TB the data plane is untouched
  and only the (tiny) manifest chain grows; ``overwrite`` starts a
  fresh dir list.

This is intentionally the smallest useful subset of a log-structured
table format: enough for exactly-once batch publication, reproducible
time-travel reads (training-data provenance), safe concurrent writers,
copy-on-write DELETE/MERGE, MERGE-ON-READ deletes via position
deletion vectors (``delete_where_dv``: the delete writes only the
(file, row) positions of the doomed rows — O(deleted), never a data
rewrite; reads anti-join the vector; compaction materializes it),
partition-level replace, and ADD-ONLY schema evolution (each manifest
records its version's schema; reads apply it, so historic dirs missing
later-added columns read as NULL and time travel shows each version's
own schema — type changes raise).
"""

from __future__ import annotations

import datetime
import json
import logging
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from mapreduceindexer_spark.ioutil import fsync_path, fsync_tree

_log = logging.getLogger(__name__)

# Telemetry (optimization round 13): the observe-metrics fallback exists
# for ONE expected case — AQE's empty-relation propagation removing the
# CollectMetrics node from a zero-row write. A fallback firing on a
# write that actually produced part files means the engine dropped the
# single-pass stats for some OTHER reason, silently re-paying the
# second full scan the round-12 optimization removed — count it so a
# Spark upgrade can't quietly restore two-pass commits (the test suite
# asserts this stays 0).
OBS_FALLBACK_NONEMPTY = 0


def _snap_parquet_files(snap: str) -> list[str]:
    """Every data file a snapshot write left under ``snap`` (recursive —
    partitioned snapshots nest one sub-dir per key). Empty means the
    write ran zero tasks: parquet writes of one or more rows always
    produce at least one part file, so no files proves a zero-row
    snapshot without running a job."""
    out: list[str] = []
    for root, _dirs, files in os.walk(snap):
        out.extend(
            os.path.join(root, f) for f in files if f.endswith(".parquet")
        )
    return out


class CommitConflict(Exception):
    """Another committer published this version first (optimistic
    concurrency): re-read the table and retry the transaction."""


def _json_stat(v):
    """A min/max value as it rides the JSON manifest: numbers and
    strings as-is; dates/timestamps as ISO strings (lexicographic ==
    chronological, so pruning comparisons stay order-correct); None for
    an empty/all-null snapshot."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    iso = getattr(v, "isoformat", None)
    if iso is not None:
        return iso()
    raise TypeError(
        f"stats_cols column has non-orderable JSON type {type(v).__name__}; "
        "use numeric/string/date columns for data-skipping stats"
    )


def _snapshot_stats(snap_df: DataFrame, cols: list[str]) -> dict:
    """(rows, per-column [min, max]) of one freshly written snapshot —
    one narrow aggregate over the new dir only."""
    from pyspark.sql import functions as F

    aggs = [F.count("*").alias("_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    row = snap_df.agg(*aggs).collect()[0]
    return {
        "rows": row["_rows"],
        "cols": {
            c: [_json_stat(row[f"_min_{c}"]), _json_stat(row[f"_max_{c}"])]
            for c in cols
        },
    }


BLOOM_BITS = 8192  # 1 KiB bitmap per (snapshot, column) in the manifest
BLOOM_K = 5


def hash60_py(s: str, seed: int = 0) -> int:
    """Driver-side twin of ``functions.hashing.hash60`` — the identical
    md5-derived 60-bit integer, so a point-lookup's bloom positions are
    computed without a Spark job and still match the bits the snapshot
    wrote (and the DuckDB oracle's replay)."""
    import hashlib

    return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:15], 16)


def _snapshot_bloom(snap_df: DataFrame, cols: list[str]) -> dict:
    """Per-column Bloom bitmap of one freshly written snapshot:
    k=BLOOM_K portable-hash positions per DISTINCT value (cast to
    string; NULLs excluded — equality never matches NULL), OR-ed into a
    BLOOM_BITS-bit bitmap stored as hex. The distinct-position relation
    is bounded by BLOOM_BITS rows, so the collect is a bounded scalar
    fetch. Point lookups (``plan`` with an IN list) then skip snapshots
    whose bitmap lacks any of the probe's k bits — the skipping min/max
    stats cannot do when the key is unclustered across snapshots."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.functions.hashing import hash60

    seeds = F.array([F.lit(i) for i in range(BLOOM_K)])
    types = {f.name: f.dataType.simpleString() for f in snap_df.schema.fields}
    out = {}
    for c in cols:
        rows = (
            snap_df.select(F.col(c).cast("string").alias("_v"))
            .where(F.col("_v").isNotNull())
            .distinct()
            .select("_v", F.explode(seeds).alias("_i"))
            .select((hash60(F.col("_v"), F.col("_i")) % BLOOM_BITS).alias("p"))
            .distinct()
            .collect()
        )
        bm = 0
        for r in rows:
            bm |= 1 << r["p"]
        # The column's Spark type rides the manifest so a point lookup
        # can verify the probe's str() form matches the string cast the
        # bitmap hashed (advisor finding: an int probe on a DOUBLE
        # column hashes '7' against bits written for '7.0' — every dir
        # holding the value would be bloom-skipped).
        out[c] = {
            "k": BLOOM_K,
            "bits": BLOOM_BITS,
            "hex": format(bm, "x"),
            "type": types.get(c),
        }
    return out


# Spark column types whose CAST(col AS STRING) is character-identical
# to Python's str() of the corresponding probe type — the only pairs
# for which bloom bit positions or a bucket key computed driver-side
# line up with what the snapshot wrote, by simple type string (what a
# Bloom entry records as its "type").
_BLOOM_SOUND_TYPES = {
    int: {"tinyint", "smallint", "int", "bigint"},
    str: {"string"},
}
# The recorded schema's JSON type names that differ from the simple
# type string (every other JSON name is its own simple string).
_JSON_TO_SIMPLE_TYPE = {
    "byte": "tinyint", "short": "smallint", "integer": "int", "long": "bigint"
}
# Temporal column types, whose min/max stats ride the manifest as ISO
# text (``_json_stat``), with the parser of that ISO form.
_ISO_PARSERS = {
    "date": datetime.date.fromisoformat,
    "timestamp": datetime.datetime.fromisoformat,
    "timestamp_ntz": datetime.datetime.fromisoformat,
}

# Point reads served on the driver (``_point_read``): key column types
# an Arrow equality answers exactly like Spark's, with the bit width of
# the integral ones (None: string).
_DRIVER_KEY_BITS = {
    "string": None, "byte": 8, "short": 16, "integer": 32, "long": 64
}
# Column types whose parquet → Arrow → local-relation round trip yields
# the values Spark's own parquet scan does. Timestamps (INT96, session
# time zone) and everything else take the Spark scan.
_DRIVER_EXACT_TYPES = frozenset(
    {"string", "binary", "boolean", "byte", "short", "integer", "long",
     "float", "double", "date"}
)


def _driver_exact(t) -> bool:
    """Whether a recorded (JSON) column type reads back exactly on the
    driver path, nested types included."""
    if isinstance(t, str):
        return t in _DRIVER_EXACT_TYPES or t.startswith("decimal(")
    kind = t.get("type")
    if kind == "array":
        return _driver_exact(t["elementType"])
    if kind == "map":
        return _driver_exact(t["keyType"]) and _driver_exact(t["valueType"])
    if kind == "struct":
        return all(_driver_exact(f["type"]) for f in t["fields"])
    return False


def _probe_fits(key_type: str, v) -> bool:
    """``v`` has the Python type of the key column and fits its range,
    so an Arrow comparison matches exactly the rows Spark's does."""
    bits = _DRIVER_KEY_BITS[key_type]
    if bits is None:
        return isinstance(v, str)
    half = 1 << (bits - 1)
    return (
        isinstance(v, int) and not isinstance(v, bool) and -half <= v < half
    )


def _as_nullable(dt):
    """``dt`` with every field, element and map value nullable — the
    schema Spark gives a parquet scan read with a user schema (Scala's
    ``DataType.asNullable``)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


# A deletion vector row addresses one deleted row by its TABLE-RELATIVE
# file path (anchored at the snap-* dir, so the table can be relocated)
# and its row index within that file — parquet files are immutable once
# a snapshot is published, so (rel_path, row_index) is a stable row id.
_DV_RELPATH_RE = r"/(snap-[0-9a-f]{12}/.+)$"
# Column names reserved by the deletion-vector machinery: the two DV
# file columns plus the two tag columns the read-side anti-join adds.
_DV_RESERVED = {"_dv_rel_path", "_dv_pos", "__mri_dv_rel", "__mri_dv_pos"}
# Reads split clean/doomed files on _metadata.file_name (file-granular
# pushdown) when the vector touches at most this many files.
_DV_SPLIT_MAX_FILES = 256


def _dv_schema():
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("_dv_rel_path", StringType(), False),
            StructField("_dv_pos", LongType(), False),
        ]
    )


def _carried_props(manifest: dict | None) -> dict:
    """Table-level properties that ride EVERY manifest regardless of
    commit mode (CHECK constraints + UNIQUE keys): unlike schema
    (append-evolved) or stats/dv (per-dir), these survive overwrites
    and rewrites — the Delta 'table properties' semantics."""
    out: dict = {}
    if manifest and manifest.get("constraints"):
        out["constraints"] = dict(manifest["constraints"])
    if manifest and manifest.get("unique"):
        out["unique"] = list(manifest["unique"])
    return out


def _validate_constraints(
    df: DataFrame,
    constraints: dict,
    what: str,
    schema_json: dict | None = None,
) -> None:
    """Raise if any row of ``df`` VIOLATES a CHECK constraint — SQL
    semantics: a constraint passes unless its expression is FALSE
    (NULL passes, so `x > 0` admits NULL x; spell NOT NULL as
    `x IS NOT NULL`). One narrow aggregate over the batch evaluates
    every constraint together — the per-commit enforcement cost is a
    single scan of the NEW data, never the table.

    ``schema_json`` is the version's recorded schema: an add-only
    append may legally OMIT a recorded column (it reads as NULL), so
    the batch is padded with typed NULLs before evaluation — a
    constraint over the omitted column then passes by the NULL rule
    instead of crashing unresolved (review finding)."""
    if not constraints:
        return
    from pyspark.sql import functions as F

    if schema_json is not None:
        from pyspark.sql.types import StructType

        have = set(df.columns)
        pads = {
            f.name: F.lit(None).cast(f.dataType)
            for f in StructType.fromJson(schema_json).fields
            if f.name not in have
        }
        if pads:
            df = df.withColumns(pads)
    aggs = [
        F.count(
            F.when(~F.coalesce(F.expr(expr), F.lit(True)), 1)
        ).alias(name)
        for name, expr in constraints.items()
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {name: row[name] for name in constraints if row[name] > 0}
    if bad:
        raise _constraint_error(bad, constraints, what)


def _constraint_error(bad: dict, constraints: dict, what: str) -> ValueError:
    """The CHECK-violation error — ONE message format whether the
    violation was found by the pre-write batch scan or by the
    violation counts observed on the write itself."""
    return ValueError(
        f"{what} violates CHECK constraint(s) "
        + ", ".join(
            f"{n!r} ({c} rows): {constraints[n]}" for n, c in bad.items()
        )
    )


def _successor(
    prev: dict | None,
    version: int,
    mode: str,
    kept,
    added: dict | None = None,
    meta: dict | None = None,
    *,
    schema: dict | None = None,
    props: dict | None = None,
    dv: tuple[str, list] | None = None,
    eq: tuple[str, list] | None = None,
    layout: dict | None = None,
) -> dict:
    """The manifest of ``version``, the successor of ``prev``: every
    commit that changes the dir set builds it here, so what version N+1
    keeps from version N is decided once. The caller names the dirs it
    ``kept`` from ``prev`` and the dirs it ``added`` (dir -> stats
    entry, falsy for none); ``dv``/``eq`` are ``(file name, dirs)`` of a
    new deletion vector or equality-delete file. The rest follows
    ``prev``:

    - the recorded schema, unless ``schema`` evolved it;
    - the table properties (``props`` overrides: a restore keeps the
      head's, not the target's);
    - the stats entries of the kept dirs;
    - the ``dv``/``eq`` lists of the kept dirs only: a rewritten dir was
      read through its deletes, so its files must not follow it (they
      address positions or keys of the old files, and would kill
      re-inserted keys);
    - the partition layout (``partitioned_by``/``partition_transform``
      in meta, ``specs``/``dir_spec``) exactly when nothing is added —
      the transform must travel with the dirs it describes, or layout
      pruning reads a bucket layout as identity keys and skips live
      rows. The partitioned commits pass their own ``layout``."""
    prev = prev or {}
    added = added or {}
    out = {"version": version, "mode": mode, "dirs": [*kept, *added]}
    if schema is None:
        schema = prev.get("schema")
    if schema is not None:
        out["schema"] = schema
    out.update(_carried_props(prev) if props is None else props)
    old = prev.get("stats", {})
    stats = {d: old[d] for d in kept if d in old}
    stats.update((d, e) for d, e in added.items() if e)
    if stats:
        out["stats"] = stats
    for k, new in (("dv", dv), ("eq", eq)):
        have = prev.get(k, {})
        files = {d: list(have[d]) for d in kept if d in have}
        if new:
            for d in new[1]:
                files.setdefault(d, []).append(new[0])
        if files:
            out[k] = files
    if layout is None and not added:
        pm = prev.get("meta", {})
        layout = {
            k: pm[k]
            for k in ("partitioned_by", "partition_transform")
            if pm.get(k)
        }
        if prev.get("specs"):
            ds = prev["dir_spec"]
            layout["specs"] = prev["specs"]
            layout["dir_spec"] = {d: ds[d] for d in kept if d in ds}
    meta = dict(meta or {})
    for k, v in (layout or {}).items():
        if k in ("specs", "dir_spec"):
            out[k] = v
        else:
            meta[k] = v
    if meta:
        out["meta"] = meta
    return out


def _footer_subdir_stats(snap: str, part_name: str, cols: list) -> dict | None:
    """Per-sub-dir (rows, min/max) manifest entries lifted STRAIGHT from
    the parquet footers the write just produced — driver-side pyarrow,
    ZERO Spark jobs (optimization round 13, guide §6: a production
    writer never rescans bytes it just wrote to learn their stats).

    Footer stats must be EXACT (manifest extents surface in declared
    query results via ``fast_minmax``, not just in pruning decisions),
    so the fast path is gated to types whose chunk statistics
    parquet-mr writes exactly-or-not-at-all, verified empirically and
    pinned by tests/test_transact.py::test_grouped_footer_stats_*:

    - INT32/INT64 with logical NONE / signed INT / DATE, and BOOLEAN:
      always exact;
    - BYTE_ARRAY String: exact when present (parquet-mr DROPS binary
      chunk stats above its 4 KB cap rather than truncating them — and
      a defensive length guard below refuses anything near that cap, so
      a writer that truncates with a different default can never leak a
      truncated bound into the manifest);
    - everything else (FLOAT/DOUBLE: NaN and signed-zero ordering;
      INT96 timestamps: no stats at all; decimals): not eligible.

    Returns {"<part>=<v>": entry} or None when ANY column of ANY file
    is not provably exact — the caller then falls back to the grouped
    Spark aggregate, which is always exact."""
    import pyarrow.parquet as pq

    _SAFE_INT_LOGICAL = {"NONE", "DATE"}
    _STRING_STAT_MAX_BYTES = 2048  # far under parquet-mr's 4 KB drop cap

    prefix = f"{part_name}="
    try:
        subdirs = sorted(
            d
            for d in os.listdir(snap)
            if d.startswith(prefix)
            and os.path.isdir(os.path.join(snap, d))
        )
    except OSError:
        return None
    out: dict[str, dict] = {}
    for d in subdirs:
        rows = 0
        lo: dict = {c: None for c in cols}
        hi: dict = {c: None for c in cols}
        files = sorted(
            f
            for f in os.listdir(os.path.join(snap, d))
            if f.endswith(".parquet")
        )
        if not files:
            return None  # a keyed sub-dir with no data files: bail out
        for fname in files:
            md = pq.ParquetFile(os.path.join(snap, d, fname)).metadata
            rows += md.num_rows
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                chunks = {
                    g.column(ci).path_in_schema: g.column(ci)
                    for ci in range(g.num_columns)
                }
                for c in cols:
                    ch = chunks.get(c)
                    if ch is None:
                        return None  # column absent from the file
                    st = ch.statistics
                    if st is None:
                        return None  # writer recorded no stats
                    if not st.has_min_max:
                        if st.num_values == 0:
                            continue  # all-NULL chunk contributes nothing
                        return None  # stats dropped (e.g. oversized binary)
                    phys = st.physical_type
                    logical = getattr(st.logical_type, "type", "NONE")
                    if phys in ("INT32", "INT64"):
                        if logical not in _SAFE_INT_LOGICAL and not (
                            logical == "INT"
                            and getattr(st.logical_type, "is_signed", False)
                        ):
                            return None
                    elif phys == "BYTE_ARRAY" and logical == "STRING":
                        if (
                            len(str(st.min).encode()) >= _STRING_STAT_MAX_BYTES
                            or len(str(st.max).encode())
                            >= _STRING_STAT_MAX_BYTES
                        ):
                            return None
                    elif phys != "BOOLEAN":
                        return None
                    mn, mx = st.min, st.max
                    if lo[c] is None or mn < lo[c]:
                        lo[c] = mn
                    if hi[c] is None or mx > hi[c]:
                        hi[c] = mx
        out[d] = {
            "rows": rows,
            "cols": {c: [_json_stat(lo[c]), _json_stat(hi[c])] for c in cols},
        }
    return out


def _grouped_subdir_stats(
    spark: SparkSession,
    snap: str,
    part_name: str,
    stats_cols,
    bloom_cols,
) -> dict:
    """Per-sub-dir manifest stats of one PARTITIONED snapshot
    (``{snap}/{part_name}={v}`` layout): (rows, min/max) lifted from the
    parquet footers just written (``_footer_subdir_stats`` — zero Spark
    jobs; one grouped aggregate over the fresh snapshot as the exact
    fallback for types footers cannot prove), and Bloom bitmaps (with
    the column type, same soundness contract as ``_snapshot_bloom``)
    in one grouped pass. Shared by ``compact_clustered``,
    ``commit_partitioned`` and ``replace_partitions``.
    Returns {"<base>/<part>=<v>": entry}."""
    from pyspark.sql import functions as F

    stats: dict[str, dict] = {}
    if not (stats_cols or bloom_cols):
        return stats
    base = os.path.basename(snap)
    snap_df = None
    types: dict = {}

    def key_of(part_val) -> str:
        sub = (
            "__HIVE_DEFAULT_PARTITION__" if part_val is None else str(part_val)
        )
        return f"{base}/{part_name}={sub}"

    if stats_cols:
        footer = _footer_subdir_stats(snap, part_name, list(stats_cols))
        if footer is not None:
            for sub, entry in footer.items():
                stats[f"{base}/{sub}"] = entry
    else:
        footer = None
    if stats_cols and footer is None:
        snap_df = spark.read.parquet(snap)
        aggs = [F.count("*").alias("_rows")]
        for c in stats_cols:
            aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
        for r in snap_df.groupBy(part_name).agg(*aggs).collect():
            stats[key_of(r[part_name])] = {
                "rows": r["_rows"],
                "cols": {
                    c: [
                        _json_stat(r[f"_min_{c}"]),
                        _json_stat(r[f"_max_{c}"]),
                    ]
                    for c in stats_cols
                },
            }
    if bloom_cols:
        snap_df = spark.read.parquet(snap) if snap_df is None else snap_df
        types = {
            f.name: f.dataType.simpleString() for f in snap_df.schema.fields
        }
        from mapreduceindexer_spark.functions.hashing import hash60

        seeds = F.array([F.lit(i) for i in range(BLOOM_K)])
        for c in bloom_cols:
            rows = (
                snap_df.select(part_name, F.col(c).cast("string").alias("_v"))
                .where(F.col("_v").isNotNull())
                .distinct()
                .select(part_name, "_v", F.explode(seeds).alias("_i"))
                .select(
                    part_name,
                    (hash60(F.col("_v"), F.col("_i")) % BLOOM_BITS).alias("p"),
                )
                .distinct()
                .collect()
            )
            bms: dict = {}
            for r in rows:
                bms[r[part_name]] = bms.get(r[part_name], 0) | (1 << r["p"])
            for part_val, bm in bms.items():
                stats.setdefault(key_of(part_val), {}).setdefault("bloom", {})[
                    c
                ] = {
                    "k": BLOOM_K,
                    "bits": BLOOM_BITS,
                    "hex": format(bm, "x"),
                    "type": types.get(c),
                }
    return stats


def _schema_json(schema) -> dict:
    """A StructType as it rides the manifest: every field marked
    nullable, because under schema evolution ANY column may be absent
    from some historic snapshot dir (where it reads as NULL)."""
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [StructField(f.name, f.dataType, True) for f in schema.fields]
    ).jsonValue()


def _evolve_schema(prev_json: dict | None, new_schema) -> dict:
    """ADD-ONLY schema evolution: the next version's recorded schema is
    the previous fields (original order) plus any new-only fields
    appended. A field present in both with a DIFFERENT type raises —
    silent type change is how readers start mis-parsing history; a
    production format would version a type-widening lattice here.
    Fields missing from the new data are KEPT (historic dirs still
    hold them; new dirs read them as NULL) — both add and omit are
    safe because every read applies the recorded schema. Names the
    deletion-vector machinery reserves are rejected HERE, on every
    commit path: a reserved column evolved in AFTER a vector exists
    would be silently overwritten by the read-side tag columns
    (review finding) — fail fast at write instead."""
    clash = _DV_RESERVED & {f.name for f in new_schema.fields}
    if clash:
        raise ValueError(
            f"columns {sorted(clash)} are reserved by the deletion-"
            "vector machinery; rename them"
        )
    if prev_json is None:
        return _schema_json(new_schema)
    from pyspark.sql.types import StructField, StructType

    prev = StructType.fromJson(prev_json)
    prev_types = {f.name: f.dataType for f in prev.fields}
    for f in new_schema.fields:
        old = prev_types.get(f.name)
        if old is not None and old.simpleString() != f.dataType.simpleString():
            raise ValueError(
                f"schema evolution is add-only: column {f.name!r} "
                f"changed type {old.simpleString()} -> "
                f"{f.dataType.simpleString()}"
            )
    merged = list(prev.fields) + [
        StructField(f.name, f.dataType, True)
        for f in new_schema.fields
        if f.name not in prev_types
    ]
    return _schema_json(StructType(merged))


def _snapshot_entry(
    spark: SparkSession,
    snap_dir: str,
    stats_cols,
    bloom_cols,
) -> dict:
    """The manifest stats entry of one EXISTING snapshot dir (stats
    backfill — ``analyze``): ONE shared read of the dir feeding both
    the min/max aggregate and the bloom position jobs (review finding:
    reading the snapshot separately per stats kind doubled commit-path
    scans). Fresh writes use ``_write_snap_with_stats`` instead, which
    observes the same numbers during the write itself."""
    entry: dict = {}
    if stats_cols or bloom_cols:
        snap_df = spark.read.parquet(snap_dir)
        if stats_cols:
            entry.update(_snapshot_stats(snap_df, list(stats_cols)))
        if bloom_cols:
            entry["bloom"] = _snapshot_bloom(snap_df, list(bloom_cols))
    return entry


def _write_snap_with_stats(
    df: DataFrame,
    snap: str,
    table_path: str,
    stats_cols,
    bloom_cols,
    constraints: dict | None = None,
    what: str = "write",
) -> dict:
    """Write ``df`` as snapshot dir ``snap`` and return its manifest
    stats entry, computing EVERYTHING the commit needs during the write
    itself via one ``Observation`` — the single-pass commit
    (optimization rounds 12-13, guide §1.2 "remove passes"):

    - (rows, per-column min/max) for data skipping (round 12);
    - per-column Bloom bitmaps (round 13): the bitmap is an OR over the
      k hash positions of every row, and OR is insensitive to
      multiplicity, so hashing every row observes the IDENTICAL bitmap
      the old distinct-value read-back computed — without re-reading a
      byte (observe forbids distinct aggregates, but collect_set of the
      bounded position domain, ≤ BLOOM_BITS ints per seed, is allowed);
    - CHECK-violation counts (round 13): a violation is detected before
      PUBLISH instead of before bytes land — the freshly written snap is
      removed and the same ValueError raised, so no reader can observe
      the difference (the lossy-key-guard contract, VERDICT r12 item 7).

    Observed metrics are computed from exactly the rows the write action
    persists — pinned by tests/test_transact.py::
    test_commit_stats_match_readback (stats) and
    test_commit_bloom_matches_readback (bitmaps).

    Also owns the durability barrier (fsync of the tree, then of the
    table root so the ``snap-*`` directory ENTRY survives power loss
    before any manifest references it)."""
    from pyspark.sql import functions as F

    stats_cols = list(stats_cols or ())
    bloom_cols = list(bloom_cols or ())
    constraints = dict(constraints or {})
    aggs = []
    if stats_cols:
        aggs.append(F.count(F.lit(1)).alias("_rows"))
        for c in stats_cols:
            aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    if bloom_cols:
        from mapreduceindexer_spark.functions.hashing import hash60

        for c in bloom_cols:
            v = F.col(c).cast("string")
            for i in range(BLOOM_K):
                aggs.append(
                    F.collect_set(hash60(v, F.lit(i)) % BLOOM_BITS).alias(
                        f"_bloom_{c}_{i}"
                    )
                )
    if constraints:
        for name, expr in constraints.items():
            aggs.append(
                F.count(
                    F.when(~F.coalesce(F.expr(expr), F.lit(True)), 1)
                ).alias(f"_viol_{name}")
            )
    obs = None
    to_write = df
    if aggs:
        from pyspark.sql import Observation

        obs = Observation()
        to_write = df.observe(obs, *aggs)
    to_write.write.mode("error").parquet(snap)
    fsync_tree(snap)
    fsync_path(table_path)
    if obs is None:
        return {}
    try:
        row = obs.get
    except Exception as exc:
        return _write_stats_fallback(
            df, snap, stats_cols, bloom_cols, constraints, what, exc
        )
    if constraints:
        bad = {
            n: row[f"_viol_{n}"] for n in constraints if row[f"_viol_{n}"] > 0
        }
        if bad:
            shutil.rmtree(snap, ignore_errors=True)
            raise _constraint_error(bad, constraints, what)
    entry: dict = {}
    if stats_cols:
        entry = {
            "rows": row["_rows"],
            "cols": {
                c: [_json_stat(row[f"_min_{c}"]), _json_stat(row[f"_max_{c}"])]
                for c in stats_cols
            },
        }
    if bloom_cols:
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        entry["bloom"] = {}
        for c in bloom_cols:
            bm = 0
            for i in range(BLOOM_K):
                for p in row[f"_bloom_{c}_{i}"] or ():
                    bm |= 1 << p
            entry["bloom"][c] = {
                "k": BLOOM_K,
                "bits": BLOOM_BITS,
                "hex": format(bm, "x"),
                "type": types.get(c),
            }
    return entry


def _write_stats_fallback(
    df: DataFrame,
    snap: str,
    stats_cols: list,
    bloom_cols: list,
    constraints: dict,
    what: str,
    exc: Exception,
) -> dict:
    """``obs.get`` raised after the snapshot write. The one EXPECTED
    cause is AQE's empty-relation propagation optimizing the
    CollectMetrics node out of a zero-row write plan — the write then
    ran zero tasks and left no part files, which proves the snapshot is
    empty, so the exact entry (rows=0, all-None extents, all-zero
    bitmaps, zero violations) is synthesized with NO job at all.

    On any other engine surprise the written files DO exist: aggregate
    those exact bytes (never the source plan — a non-deterministic,
    un-checkpointed lineage could re-evaluate differently from what was
    persisted, r12 ADVICE) and count the occurrence so the suite can
    assert the single-pass path never silently degrades."""
    global OBS_FALLBACK_NONEMPTY
    if not _snap_parquet_files(snap):
        entry: dict = {}
        if stats_cols:
            entry = {"rows": 0, "cols": {c: [None, None] for c in stats_cols}}
        if bloom_cols:
            types = {
                f.name: f.dataType.simpleString() for f in df.schema.fields
            }
            entry["bloom"] = {
                c: {
                    "k": BLOOM_K,
                    "bits": BLOOM_BITS,
                    "hex": "0",
                    "type": types.get(c),
                }
                for c in bloom_cols
            }
        return entry
    OBS_FALLBACK_NONEMPTY += 1
    _log.warning(
        "observed-metrics fallback on a NON-empty snapshot write (%s): "
        "%s: %s — re-aggregating the written files; the single-pass "
        "commit is degraded",
        what,
        type(exc).__name__,
        exc,
    )
    snap_df = df.sparkSession.read.parquet(snap)
    if constraints:
        try:
            _validate_constraints(snap_df, constraints, what)
        except ValueError:
            shutil.rmtree(snap, ignore_errors=True)
            raise
    entry = {}
    if stats_cols:
        entry = _snapshot_stats(snap_df, stats_cols)
    if bloom_cols:
        entry["bloom"] = _snapshot_bloom(snap_df, bloom_cols)
    return entry


_REF_NAME_RE = r"^[A-Za-z0-9_\-]{1,64}$"

# Reserved tag-name namespace of the group converge guards
# (sources/group.py): public tag()/drop_tag() reject it so the guard
# sweeper can never delete — or be blocked by — a user tag (r11 advice).
_GUARD_NS = "__cvg_"


@dataclass(frozen=True)
class ScanPlan:
    """A read of one table version decided from its manifest
    (``TransactionalTable.plan``): ``kept`` and ``skipped`` partition
    ``manifest["dirs"]``, and ``TransactionalTable.scan`` reads the kept
    dirs with the residual ``where`` filter without reading the
    manifest again."""

    version: int
    manifest: dict
    where: dict
    kept: list[str]
    skipped: list[str]


def _disjoint(cmin, cmax, lo, hi) -> bool:
    """Whether [cmin, cmax] provably misses [lo, hi] (a None bound is
    open). Values that do not order against each other prove nothing."""
    try:
        return (hi is not None and cmin > hi) or (lo is not None and cmax < lo)
    except TypeError:
        return False


def _filtered(df: DataFrame, where: dict) -> DataFrame:
    """``df`` filtered on a ``plan`` predicate: the residual that turns
    every pruning false positive into scan cost, never a wrong row. An
    IN list is an OR of equalities, so every value is coerced as
    ``col == value`` coerces it whatever the list's length (Spark's
    ``isin`` compares a date column with a string as strings, ``==``
    casts the string to a date)."""
    from functools import reduce
    from operator import or_

    from pyspark.sql import functions as F

    for col, pred in where.items():
        c = F.col(col)
        if isinstance(pred, list):
            df = df.filter(reduce(or_, (c == F.lit(v) for v in pred), F.lit(False)))
            continue
        lo, hi = pred
        if lo is not None:
            df = df.filter(c >= F.lit(lo))
        if hi is not None:
            df = df.filter(c <= F.lit(hi))
    return df


class TransactionalTable:
    """A versioned parquet table rooted at ``path`` (local or any
    fuse-mounted filesystem with atomic link/rename semantics).

    ``ref`` selects a BRANCH view (write-audit-publish): the default
    ``None`` is the main lineage (``_manifests/``); a branch created by
    ``branch()`` keeps its own manifest chain under ``_refs/<name>/``
    while sharing the table root's snapshot dirs — staging commits are
    invisible to main readers until ``publish_branch`` lands them
    atomically. All reads/writes work identically on either view."""

    def __init__(self, path: str, ref: str | None = None):
        import re

        self.path = path
        self.ref = ref
        if ref is None:
            self.manifest_dir = os.path.join(path, "_manifests")
            os.makedirs(self.manifest_dir, exist_ok=True)
        else:
            if not re.match(_REF_NAME_RE, ref):
                raise ValueError(f"invalid ref name {ref!r}")
            # Lazily created by the first publish (branch()) — opening
            # a view must not resurrect a dropped branch's dir.
            self.manifest_dir = os.path.join(path, "_refs", ref)
        # Deletion vectors are immutable once linked; the doomed-file
        # enumeration (read path) and per-dir position histogram
        # (fast_count) are memoized per vector.
        self._dv_files_cache: dict[tuple[str, ...], list[str] | None] = {}
        self._dv_rows_cache: dict[str, dict[str, int] | None] = {}
        self._eq_keycol_cache: dict[str, str] = {}

    # -- version resolution -------------------------------------------------

    def versions(self) -> list[int]:
        out = []
        if not os.path.isdir(self.manifest_dir):
            return out  # ref view of a never-created/dropped branch
        for name in os.listdir(self.manifest_dir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue  # temp/garbage names are never versions
        return sorted(out)

    def current_version(self) -> int:
        """Latest committed version, 0 if the table is empty."""
        vs = self.versions()
        return vs[-1] if vs else 0

    def meta_of(self, version: int) -> dict:
        """The ``meta`` dict the committer attached to ``version`` ({} if
        none)."""
        return self._manifest(version).get("meta", {})

    def _manifest(self, version: int) -> dict:
        with open(
            os.path.join(self.manifest_dir, f"v{version}.json"),
            encoding="utf-8",
        ) as fh:
            return json.load(fh)

    def _head(self, expected_version: int | None) -> tuple[int, dict | None]:
        """(base version, its manifest) for a write: ``expected_version``
        or the current head, with None for an empty table. A stale
        ``expected_version`` whose manifest retention retired is a
        concurrency loss, not an IO bug: it raises the
        ``CommitConflict`` callers catch."""
        base = (
            expected_version
            if expected_version is not None
            else self.current_version()
        )
        if base < 1:
            return base, None
        try:
            return base, self._manifest(base)
        except FileNotFoundError:
            raise CommitConflict(
                f"version {base} was retired by retention since it was "
                "read; re-read the table and retry"
            ) from None

    # -- writes -------------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        expected_version: int | None = None,
        meta: dict | None = None,
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
        validate: bool = True,
    ) -> int:
        """Publish ``df`` as the next version; returns it. ``meta`` (a
        small JSON-able dict) rides the manifest — e.g. a streaming
        sink's batch_id, so a retried microbatch can recognize its own
        already-committed version (exactly-once).

        CHECK constraints recorded on the table (``add_constraint``)
        gate the batch: one narrow aggregate evaluates every
        constraint and a violation fails the commit before any bytes
        land. ``validate=False`` skips that scan — for content-
        preserving rewrites of already-validated data only (compact).

        ``stats_cols`` opts the commit into DATA-SKIPPING statistics:
        per snapshot dir, (row count, min, max) of each listed column is
        recorded in the manifest, and ``plan`` skips whole dirs
        whose [min, max] cannot intersect a range predicate — the
        file-level skipping of Delta/Iceberg, at dir granularity. Stats
        are computed from the snapshot AS WRITTEN (one footer-friendly
        agg over the new dir only — appends never rescan old data; a
        production writer would lift the same numbers straight out of
        the parquet footers it just wrote). Dirs committed without
        stats are never skipped, so mixing stats-less history in is
        always safe.

        ``bloom_cols`` additionally records a BLOOM_BITS-bit Bloom
        bitmap per listed column (k=BLOOM_K portable hashes over the
        snapshot's distinct values, cast to string): point lookups
        (``plan`` with an IN list) then skip snapshots the bitmap proves
        cannot contain the value — which min/max ranges cannot do when
        the key is UNCLUSTERED across snapshots. ~1 KiB of manifest per
        (snapshot, column); false positives only cost a scan, never
        correctness.

        ``expected_version`` is the optimistic-concurrency guard: the
        commit succeeds only if it creates ``expected_version + 1``
        (i.e. nobody committed since the caller read the table). With
        the default None, the guard is the caller's best-effort read of
        the current version — the atomic link still serializes racing
        writers, so at most one wins any given version number.
        """
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        # Schema evolution resolves BEFORE the snapshot write so an
        # illegal type change fails fast with no orphan dir: appends
        # evolve add-only against the recorded schema; overwrite is a
        # fresh table state and records the new schema as-is.
        base, cur_m = self._head(expected_version)
        new_version = base + 1
        prev = cur_m if mode == "append" else None
        schema_json = _evolve_schema(
            prev.get("schema") if prev else None, df.schema
        )
        # CHECK constraints (table properties — they survive overwrite)
        # gate the batch before any bytes land.
        props = _carried_props(cur_m)
        unique_probe_dirs = None
        folded_constraints: dict = {}
        if validate:
            if props.get("unique"):
                # Pin the batch BEFORE validating and writing: the
                # unique probe materializes df three times and the
                # write a fourth — an unpinned non-deterministic
                # lineage (sample, limit) could pass validation and
                # then persist different, duplicate-carrying rows
                # (the replace_partitions discipline).
                df = df.localCheckpoint(eager=True)
            constraints = props.get("constraints", {})
            if constraints:
                # CHECK constraints ride the write as observed violation
                # counts (optimization round 13, guide §1.2): one less
                # scan of the batch per constrained commit. A violation
                # is then detected before PUBLISH instead of before
                # bytes land — the snap is removed and the identical
                # ValueError raised, so no reader (and no caller that
                # catches it) can observe the difference. The pre-write
                # scan remains ONLY for add-only appends that omit a
                # recorded column: the batch must be padded with typed
                # NULLs before evaluation, and pad columns cannot ride a
                # write without being persisted.
                from pyspark.sql.types import StructType

                have = set(df.columns)
                needs_pads = any(
                    f.name not in have
                    for f in StructType.fromJson(schema_json).fields
                )
                if needs_pads:
                    _validate_constraints(
                        df,
                        constraints,
                        f"commit to v{new_version}",
                        schema_json,
                    )
                else:
                    folded_constraints = constraints
            if props.get("unique"):
                unique_probe_dirs = self._validate_unique(
                    df, props["unique"], prev
                )

        snap = os.path.join(self.path, f"snap-{uuid.uuid4().hex[:12]}")
        # Write + stats + blooms + constraint counts in ONE pass
        # (observed metrics); the helper also fsyncs the tree and the
        # table root — without the root fsync a power loss could keep
        # the manifest (synced below) while dropping the directory it
        # references.
        entry = _write_snap_with_stats(
            df,
            snap,
            self.path,
            stats_cols,
            bloom_cols,
            constraints=folded_constraints,
            what=f"commit to v{new_version}",
        )
        if unique_probe_dirs is not None:
            meta = {**(meta or {}), "unique_probe_dirs": unique_probe_dirs}
        # An append keeps every inherited dir with the stats and deletes
        # its own commit recorded; an overwrite keeps none.
        payload = _successor(
            cur_m,
            new_version,
            mode,
            prev["dirs"] if prev is not None else [],
            {os.path.basename(snap): entry},
            meta,
            schema=schema_json,
        )
        return self._publish_manifest(payload, new_version, [snap])

    def _publish_manifest(
        self, payload: dict, new_version: int, cleanup_snaps: list[str]
    ) -> int:
        """Atomically publish ``payload`` as ``v<new_version>.json`` via
        the hard-link CAS; on a lost race, remove the loser's freshly
        written ``cleanup_snaps`` and raise ``CommitConflict``."""
        os.makedirs(self.manifest_dir, exist_ok=True)  # lazy ref dirs
        # Wall-clock stamp for timestamp time travel (read_asof) —
        # always fresh: a branch publish is "as of" when it LANDED on
        # main, not when its head was staged.
        payload["committed_at"] = time.time()
        tmp = os.path.join(
            self.manifest_dir, f".tmp-{uuid.uuid4().hex[:12]}.json"
        )
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        final = os.path.join(self.manifest_dir, f"v{new_version}.json")
        try:
            os.link(tmp, final)  # atomic CAS: fails iff the name exists
        except FileExistsError:
            os.unlink(tmp)
            for snap in cleanup_snaps:
                shutil.rmtree(snap, ignore_errors=True)
            raise CommitConflict(
                f"version {new_version} was committed concurrently; "
                "re-read and retry"
            ) from None
        os.unlink(tmp)
        fsync_path(self.manifest_dir)
        return new_version

    # -- reads --------------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The table AS OF ``version`` (default: latest). Raises if the
        table has no commits or the version does not exist."""
        manifest = self._manifest(self._resolve(version))
        return self._read_dirs(spark, manifest, manifest["dirs"])

    def _read_dirs(
        self, spark: SparkSession, manifest: dict, dirs
    ) -> DataFrame:
        """Read a subset of one version's dirs, applying (in order):
        the version's RECORDED schema, its position deletion vectors
        (``_read_dirs_dv``), and its EQUALITY-delete files. Equality
        deletes are SCOPED: an eq file kills keys only in the dirs it
        was registered against (older data), never in the snapshot
        appended alongside it — so dirs are grouped by their eq-file
        signature and each group is anti-joined against exactly its
        own key sets. A version with no eq entries takes the plain
        dv path unchanged."""
        eq_map = manifest.get("eq", {})
        if not any(eq_map.get(d) for d in dirs):
            return self._read_dirs_dv(spark, manifest, dirs)
        groups: dict[tuple, list] = {}
        for d in dirs:
            groups.setdefault(tuple(sorted(eq_map.get(d, []))), []).append(d)
        parts = []
        for sig in sorted(groups):
            part = self._read_dirs_dv(spark, manifest, groups[sig])
            for keycol, names in sorted(self._eq_by_key(sig).items()):
                # The keys side is bounded by rows DELETED (distinct
                # upserted/tombstoned keys), never table size — AQE
                # broadcast-picks it, same as the DV anti-join.
                keys = (
                    spark.read.parquet(
                        *[os.path.join(self.path, n) for n in names]
                    )
                    .select(keycol)
                    .distinct()
                )
                part = part.join(keys, keycol, "left_anti")
            parts.append(part)
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part)
        return out

    def _eq_by_key(self, names) -> dict[str, list[str]]:
        """{key column: [eq dir names]} of the named equality-delete
        dirs — each eq parquet is self-describing (its single column
        IS the delete key), read driver-side from the footer and
        memoized (eq files are immutable once linked)."""
        out: dict[str, list[str]] = {}
        for n in names:
            col = self._eq_keycol_cache.get(n)
            if col is None:
                import pyarrow.parquet as pq

                d = os.path.join(self.path, n)
                f = next(
                    f
                    for f in sorted(os.listdir(d))
                    if f.endswith(".parquet")
                )
                col = pq.ParquetFile(
                    os.path.join(d, f)
                ).schema_arrow.names[0]
                self._eq_keycol_cache[n] = col
            out.setdefault(col, []).append(n)
        return out

    def _read_dirs_dv(
        self, spark: SparkSession, manifest: dict, dirs
    ) -> DataFrame:
        """Schema-evolution + position-DV half of ``_read_dirs``: a
        historic dir missing a later-added column reads it as NULL,
        and time travel to an old version shows that version's schema,
        not today's. Manifests from before schema recording read as
        before (inferred).

        If the manifest carries deletion vectors for any dir being
        read (``delete_where_dv``), the scan is anti-joined against
        them on (table-relative file path, row index) — the merge-on-
        read half of the DV contract. A version with no vectors takes
        the plain scan path, join-free."""
        from pyspark.sql import functions as F

        paths = [os.path.join(self.path, d) for d in dirs]
        sj = manifest.get("schema")
        if sj is not None:
            from pyspark.sql.types import StructType

            df = spark.read.schema(StructType.fromJson(sj)).parquet(*paths)
        else:
            df = spark.read.parquet(*paths)
        dv_map = manifest.get("dv", {})
        dv_names = sorted({n for d in dirs for n in dv_map.get(d, [])})
        if not dv_names:
            return df
        dv = self._read_dv(spark, dv_names)
        base_cols = df.columns

        def _anti(part: DataFrame) -> DataFrame:
            # Tag each scanned row with its stable (rel_path, row_index)
            # id BEFORE the join — _metadata resolves only on the scan.
            tagged = part.withColumns(
                {
                    "__mri_dv_rel": F.regexp_extract(
                        F.col("_metadata.file_path"), _DV_RELPATH_RE, 1
                    ),
                    "__mri_dv_pos": F.col("_metadata.row_index"),
                }
            )
            return tagged.join(
                dv,
                (tagged["__mri_dv_rel"] == dv["_dv_rel_path"])
                & (tagged["__mri_dv_pos"] == dv["_dv_pos"]),
                "left_anti",
            ).select(*base_cols)

        # Files untouched by any vector need no tag and no join:
        # _metadata.file_name predicates prune at FILE granularity, so
        # the clean arm scans straight through and only doomed files'
        # rows pay the per-row path tag + anti-join (loadtest_dv.py:
        # the read tax was a full-scan regexp before this split). A
        # basename collision across dirs merely routes extra rows
        # through the EXACT rel-path join — sound either way.
        # Degenerate vectors touching very many files fall back to the
        # single-pass tagged join.
        doomed_files = self._dv_doomed_files(tuple(dv_names))
        if doomed_files:
            is_doomed = F.col("_metadata.file_name").isin(doomed_files)
            return df.filter(~is_doomed).unionByName(
                _anti(df.filter(is_doomed))
            )
        return _anti(df)

    def _dv_doomed_files(self, dv_names: tuple[str, ...]) -> list[str] | None:
        """Distinct data-file basenames the named vectors address, or
        None when enumeration isn't worth it (huge vectors → the read
        takes the single-pass tagged join). Computed DRIVER-side from
        the vector parquet footers + one narrow column read — building
        a DataFrame over a vectored version must not launch a Spark
        job (review finding). Vectors are immutable once linked, so
        the answer is memoized per vector set."""
        if dv_names in self._dv_files_cache:
            return self._dv_files_cache[dv_names]
        import pyarrow.parquet as pq

        out: list[str] | None = None
        parts: list[str] = []
        total = 0
        for n in dv_names:
            d = os.path.join(self.path, n)
            for f in sorted(os.listdir(d)):
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(d, f)
                parts.append(full)
                total += pq.ParquetFile(full).metadata.num_rows
        # Footer row counts bound the enumeration cost before any data
        # is read: a vector this large came from a delete that should
        # have been copy-on-write anyway.
        if total <= 100_000:
            names: set[str] = set()
            for full in parts:
                col = pq.read_table(full, columns=["_dv_rel_path"])
                for v in col.column(0).to_pylist():
                    names.add(v.rsplit("/", 1)[-1])
                    if len(names) > _DV_SPLIT_MAX_FILES:
                        break
                if len(names) > _DV_SPLIT_MAX_FILES:
                    break
            if 0 < len(names) <= _DV_SPLIT_MAX_FILES:
                out = sorted(names)
        self._dv_files_cache[dv_names] = out
        return out

    def _read_dv(self, spark: SparkSession, dv_names) -> DataFrame:
        """The union of the named deletion-vector dirs as one typed
        (_dv_rel_path, _dv_pos) relation. Vectors are bounded by rows
        DELETED (never table size), so this side of the read's
        anti-join is small — AQE broadcast-picks it at runtime."""
        return spark.read.schema(_dv_schema()).parquet(
            *[os.path.join(self.path, n) for n in dv_names]
        )

    def _point_read(
        self,
        spark: SparkSession,
        manifest: dict,
        kept,
        col: str,
        values: list,
    ) -> DataFrame:
        """The rows of ``manifest``'s ``kept`` dirs with ``col IN
        values`` (equality for one value): ``scan``'s point read. A
        slice the driver can serve exactly (``_driver_files``) is read
        with ``driver.read_parquet`` and handed back as a local relation,
        so collecting it launches no Spark job. Anything else is the
        ``_read_dirs`` scan plus the residual filter, which turns a
        Bloom false positive into scan cost, never a wrong row. An
        empty ``kept`` gives no row, with the version's schema, on
        either path."""
        served = self._driver_files(spark, manifest, kept, col, values)
        if served is None:
            return _filtered(
                self._read_kept(spark, manifest, kept), {col: values}
            )
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        from mapreduceindexer_spark.operators import driver

        schema, files = served
        arrow_schema = to_arrow_schema(schema)
        key_values = pa.array(values, arrow_schema.field(col).type)
        table = driver.read_parquet(
            files, arrow_schema, filter=ds.field(col).isin(key_values)
        )
        return driver.local_relation(spark, table, schema)

    def _driver_files(
        self, spark: SparkSession, manifest: dict, kept, col: str, values: list
    ):
        """(read schema, data files) when a point read of ``kept`` can
        be served exactly on the driver, else None. That needs the
        version's recorded schema in types Arrow reads back exactly
        (``_driver_exact``), no deletion vector or equality delete on a
        kept dir, a string or integral key probed with values of its own
        Python type and range, and flat dirs of parquet files. Their
        on-disk bytes must also fit under
        ``spark.sql.autoBroadcastJoinThreshold``, the size Spark already
        trusts to one join side it ships through the driver: driver
        memory stays bounded however large the table grows, and turning
        broadcast off (-1) turns this path off."""
        sj = manifest.get("schema")
        if sj is None:
            return None
        dv, eq = manifest.get("dv", {}), manifest.get("eq", {})
        if any(dv.get(d) or eq.get(d) for d in kept):
            return None
        types = {f["name"]: f["type"] for f in sj["fields"]}
        key_type = types.get(col)
        if not isinstance(key_type, str) or key_type not in _DRIVER_KEY_BITS:
            return None
        if not all(_probe_fits(key_type, v) for v in values):
            return None
        if not all(_driver_exact(t) for t in types.values()):
            return None
        files, size = [], 0
        try:
            for d in kept:
                with os.scandir(os.path.join(self.path, d)) as entries:
                    for e in entries:
                        # The names Spark's file listing leaves out.
                        if e.name.startswith(".") or (
                            e.name.startswith("_") and "=" not in e.name
                        ):
                            continue
                        if not (e.is_file() and e.name.endswith(".parquet")):
                            return None
                        files.append(e.path)
                        size += e.stat().st_size
        except OSError:
            return None  # the Spark scan raises its own error
        if size > spark._jconf.autoBroadcastJoinThreshold():
            return None
        from pyspark.sql.types import StructType

        return _as_nullable(StructType.fromJson(sj)), sorted(files)

    # -- scan planning ------------------------------------------------------

    def _resolve(self, version: int | None) -> int:
        """``version`` (default: the latest), checked to exist."""
        vs = self.versions()
        if version is None:
            version = vs[-1] if vs else 0
        if version < 1 or version not in vs:
            raise ValueError(
                f"version {version} does not exist "
                f"(available: {vs or 'none'})"
            )
        return version

    def plan(self, where: dict, version: int | None = None) -> ScanPlan:
        """Which snapshot dirs of ``version`` (default: latest) can hold
        a row matching ``where``, decided from the manifest alone: zero
        data reads. ``where`` maps a column to a closed range ``(lo,
        hi)``, either side None but not both, or to a list of int/str
        values meaning IN (``[v]`` is equality); columns combine with
        AND. ``scan`` reads the plan without reading the manifest
        again."""
        version = self._resolve(version)
        manifest = self._manifest(version)
        kept, skipped = self._prune(manifest, where)
        return ScanPlan(version, manifest, where, kept, skipped)

    @staticmethod
    def _check_eq_probe(value) -> None:
        if value is None:
            raise ValueError("equality never matches NULL; nothing to look up")
        if isinstance(value, bool) or not isinstance(value, (int, str)):
            raise TypeError(
                f"point-lookup key must be int or str (got "
                f"{type(value).__name__}); other types' str() diverges "
                "from Spark's string cast and would make bloom and bucket "
                "skipping unsound"
            )

    def _prune(
        self, manifest: dict, where: dict
    ) -> tuple[list[str], list[str]]:
        """(kept, skipped) dirs of ONE resolved manifest for ``where``,
        both in manifest order. A dir is skipped only when a recorded
        proof rules out every row for one column (AND); an IN list keeps
        a dir if any of its values may be there (OR). The proofs:

        - the layout key in the dir's name, when that dir's own spec
          keys the column, so evolved layouts prune under each dir's
          transform; the NULL partition never matches. ``bucket`` is not
          monotone, so it decides IN only, and only when ``str(v)``
          renders like Spark's string cast of the column type (the
          Bloom rule: ``'7'`` on a bigint key keeps every bucket).
        - min/max stats; an empty or all-NULL dir never matches, and a
          value that does not order against the stats proves nothing.
        - the Bloom bitmap, for IN, under ``_BLOOM_SOUND_TYPES``.

        On a date or timestamp column, whose stats are ISO text, a value
        proves nothing unless it renders as that type's own ISO form
        (``"2024-1-5"`` or a datetime on a date column keeps every dir).
        Dirs without any of these records are always kept. IN values
        must be int or str (``_check_eq_probe``); a range needs a
        bound, since an unbounded read is ``read`` (skipping all-NULL
        dirs would drop their rows)."""
        if not where:
            raise ValueError(
                "a scan plan needs at least one predicate; an unfiltered "
                "read is read()"
            )
        for col, pred in where.items():
            if isinstance(pred, list):
                for v in pred:
                    self._check_eq_probe(v)
            elif not (isinstance(pred, tuple) and len(pred) == 2):
                raise TypeError(
                    f"predicate on {col!r} must be a list (IN) or a "
                    f"(lo, hi) tuple (range), got {type(pred).__name__}"
                )
            elif pred[0] is None and pred[1] is None:
                raise ValueError(
                    f"predicate on {col!r} bounds neither side; a range "
                    "needs at least one bound (an unbounded read is read())"
                )
        stats = manifest.get("stats", {})
        specs = self._dir_specs(manifest) or {}
        types = {
            f["name"]: _JSON_TO_SIMPLE_TYPE.get(f["type"], f["type"])
            for f in manifest.get("schema", {}).get("fields", [])
            if isinstance(f["type"], str)
        }
        positions: dict[tuple, list[int]] = {}

        def renders(v, col_type) -> bool:
            return col_type in _BLOOM_SOUND_TYPES.get(type(v), ())

        def provable(v, col: str) -> bool:
            # Whether v compares against col's stats and layout keys as
            # Spark compares it: on a temporal column only a naive value
            # in the column type's own ISO form does.
            parse = _ISO_PARSERS.get(types.get(col))
            if parse is None or v is None:
                return True
            try:
                iso = _json_stat(v)
                parsed = parse(iso)
            except (TypeError, ValueError):
                return False
            return parsed.isoformat() == iso and getattr(
                parsed, "tzinfo", None
            ) is None

        def key_of(v, kind: str, param, col: str):
            # The partition key of value v, None when it is not provable
            # (None also leaves a range side open).
            if v is None or (
                kind == "bucket" and not renders(v, types.get(col))
            ):
                return None
            try:
                return self._transform_key_py(v, kind, param)
            except (TypeError, ValueError, AttributeError):
                return None

        def in_bloom(v, bl: dict) -> bool:
            if not renders(v, bl.get("type")):
                return True
            k, bits = bl["k"], bl["bits"]
            if (v, k, bits) not in positions:
                positions[(v, k, bits)] = [
                    hash60_py(str(v), i) % bits for i in range(k)
                ]
            bm = int(bl["hex"], 16)
            return all((bm >> p) & 1 for p in positions[(v, k, bits)])

        def may_match(d: str, col: str, pred) -> bool:
            entry = stats.get(d, {})
            cs = entry.get("cols", {}).get(col)
            if cs is not None and cs[0] is None:
                return False  # empty or all-NULL: nothing matches NULL
            spec = specs.get(d)
            kind = None
            if spec is not None and spec["col"] == col:
                key = self._dir_key(d)
                if key is None:
                    return False  # the NULL partition
                kind, param, _ = self._parse_transform(spec["transform"])
            if isinstance(pred, list):
                bl = entry.get("bloom", {}).get(col)

                def value_may_match(v) -> bool:
                    if not provable(v, col):
                        return True
                    if kind is not None:
                        kv = key_of(v, kind, param, col)
                        if _disjoint(key, key, kv, kv):
                            return False
                    vj = _json_stat(v)
                    if cs is not None and _disjoint(*cs, vj, vj):
                        return False
                    return bl is None or in_bloom(v, bl)

                return any(value_may_match(v) for v in pred)
            lo, hi = (b if provable(b, col) else None for b in pred)
            if kind is not None and kind != "bucket" and _disjoint(
                key, key, key_of(lo, kind, param, col),
                key_of(hi, kind, param, col),
            ):
                return False
            return cs is None or not _disjoint(
                *cs, _json_stat(lo), _json_stat(hi)
            )

        kept, skipped = [], []
        for d in manifest["dirs"]:
            if all(may_match(d, c, p) for c, p in where.items()):
                kept.append(d)
            else:
                skipped.append(d)
        return kept, skipped

    def scan(self, spark: SparkSession, plan: ScanPlan) -> DataFrame:
        """The rows of ``plan.version`` matching ``plan.where``, reading
        only ``plan.kept``: identical to filtering a full read. A
        one-column IN plan is a point read (``_point_read``), which a
        small delete-free slice serves on the driver with Arrow so its
        ``collect()`` runs no Spark job. Any other plan is a Spark scan
        of the kept dirs plus the residual filter. With no dir kept the
        result has the version's schema and no rows."""
        if len(plan.where) == 1:
            ((col, pred),) = plan.where.items()
            if isinstance(pred, list):
                return self._point_read(
                    spark, plan.manifest, plan.kept, col, pred
                )
        return _filtered(
            self._read_kept(spark, plan.manifest, plan.kept), plan.where
        )

    def _read_kept(
        self, spark: SparkSession, manifest: dict, kept
    ) -> DataFrame:
        """``_read_dirs`` of ``kept``; with none kept, the version's
        schema and no rows (limit(0) prunes at the planner, not the
        scan)."""
        if kept:
            return self._read_dirs(spark, manifest, kept)
        return self._read_dirs(spark, manifest, manifest["dirs"]).limit(0)

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Rows ADDED between ``from_version`` (exclusive) and
        ``to_version`` (inclusive) — the incremental-consumer feed: a
        downstream job remembers the last version it processed and
        reads only the delta, never rescanning history (at 100 TB the
        difference between an incremental pipeline and a daily full
        recompute). Sound ONLY over append commits, where the delta IS
        the new snapshot dirs; any overwrite/delete/merge/compaction in
        the range rewrites membership and the call raises — a row-level
        change feed across rewrites needs explicit change files
        (Delta CDF), out of scope here. ``from_version == to_version``
        returns an empty typed DataFrame — except on a never-committed
        table, where no schema exists to type it with: poll
        ``current_version() > 0`` before the first read (the error
        says so)."""
        if to_version is None:
            to_version = self.current_version()
        if to_version == 0:
            raise ValueError(
                "table has no commits yet, so there is no schema for an "
                "empty change feed; poll current_version() > 0 first"
            )
        if from_version == to_version:
            if from_version != 0 and from_version not in self.versions():
                raise ValueError(f"version {from_version} does not exist")
            return self.read(spark, to_version).limit(0)
        new_dirs = self.change_dirs(from_version, to_version)
        return self._read_dirs(spark, self._manifest(to_version), new_dirs)

    def change_dirs(self, from_version: int, to_version: int) -> list[str]:
        """The snapshot dirs APPENDED between ``from_version``
        (exclusive) and ``to_version`` (inclusive) — the manifest-only
        diff shared by the batch change feed (``read_changes``) and the
        streaming source (``sources/table_stream.py``), with the same
        soundness validation: any non-append commit in the range
        rewrites membership and raises."""
        versions = self.versions()
        if from_version != 0 and from_version not in versions:
            raise ValueError(f"version {from_version} does not exist")
        if to_version not in versions:
            raise ValueError(f"version {to_version} does not exist")
        if from_version > to_version:
            raise ValueError(
                f"from_version {from_version} > to_version {to_version}"
            )
        # INTERNAL gaps make the mode check below unsound: a tagged-
        # version-exempt vacuum can retire a manifest BETWEEN surviving
        # ones (e.g. keep tagged v1, retire rewrite v2, keep v3), and
        # iterating only survivors would silently skip v2's rewrite
        # boundary and double-deliver its surviving rows (review
        # finding). A missing PREFIX stays legal — that is ordinary
        # retention, and the from_version==0 bootstrap treats the
        # oldest survivor as the baseline.
        vset = set(versions)
        floor = min(vset) if from_version == 0 else from_version
        missing = [
            v
            for v in range(max(from_version, floor) + 1, to_version + 1)
            if v not in vset
        ]
        if missing:
            raise ValueError(
                f"versions {missing} in ({from_version}, {to_version}] "
                "were removed by retention while neighbors survive (a "
                "tag pin can do this); their commit modes are unknowable "
                "so the feed cannot prove the range is append-only — "
                "re-baseline the consumer from a full read"
            )
        base_dirs = (
            set(self._manifest(from_version)["dirs"])
            if from_version > 0
            else set()
        )
        new_dirs: list[str] = []
        seen = set(base_dirs)
        for v in versions:
            if not (from_version < v <= to_version):
                continue
            m = self._manifest(v)
            if m.get("mode") != "append" and not (
                v == from_version + 1 and from_version == 0
            ):
                # Not labeled append — but METADATA-ONLY versions
                # (set/drop_constraint) and pure-insert merges keep
                # membership append-shaped: every prior dir survives
                # and no deletion vector changed. Those are feed-safe;
                # anything else rewrites membership and raises.
                pm = self._manifest(v - 1) if (v - 1) in vset else None
                if pm is None or not (
                    set(pm["dirs"]) <= set(m["dirs"])
                    and pm.get("dv", {}) == m.get("dv", {})
                    and pm.get("eq", {}) == m.get("eq", {})
                ):
                    raise ValueError(
                        f"version {v} is mode={m.get('mode')!r}; the "
                        "change feed is defined only over append-shaped "
                        "commits"
                    )
            for d in m["dirs"]:
                if d not in seen:  # each append re-lists inherited dirs
                    new_dirs.append(d)
                    seen.add(d)
        return new_dirs

    def delete_where(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
    ) -> int:
        """Copy-on-write DELETE of rows with ``lo <= col <= hi``,
        published as a new version; returns it. The manifest stats make
        the rewrite SURGICAL: dirs whose recorded [min, max] provably
        cannot contain a matching row are carried into the new manifest
        UNTOUCHED (same dir, same stats — zero data read or written);
        only the dirs that may match are read, filtered, and rewritten
        as one fresh snapshot. At 100 TB a keyed/time-ranged delete
        (GDPR erasure, retention expiry) then costs O(matching
        snapshots), not a full-table rewrite — the write-path payoff of
        the same stats that prune reads. NULLs in ``col`` never match a
        range predicate, so they are preserved (the rewrite filter is
        explicitly null-safe). Old versions remain time-travelable;
        optimistic concurrency as in ``compact`` (the rewrite is the
        retryable party)."""
        from pyspark.sql import functions as F

        cur = self.current_version()
        if cur == 0:
            raise ValueError("nothing to delete: table has no committed version")
        if lo is None and hi is None:
            raise ValueError("delete_where needs at least one bound")
        manifest = self._manifest(cur)
        may_match, preserved = self._prune(manifest, {col: (lo, hi)})
        new_version = cur + 1
        added: dict[str, dict] = {}
        cleanup: list[str] = []
        if may_match:
            matched = F.lit(True)
            if lo is not None:
                matched = matched & (F.col(col) >= F.lit(lo))
            if hi is not None:
                matched = matched & (F.col(col) <= F.lit(hi))
            survivors = self._read_dirs(
                spark, manifest, may_match
            ).filter(F.col(col).isNull() | ~matched)
            snap = os.path.join(self.path, f"snap-{uuid.uuid4().hex[:12]}")
            added[os.path.basename(snap)] = _write_snap_with_stats(
                survivors, snap, self.path, stats_cols, bloom_cols
            )
            cleanup.append(snap)
        payload = _successor(
            manifest,
            new_version,
            "delete",
            [d for d in manifest["dirs"] if d in set(preserved)],
            added,
            {
                "deleted_from": cur,
                "rewrote_dirs": len(may_match),
                "preserved_dirs": len(preserved),
            },
        )
        return self._publish_manifest(payload, new_version, cleanup)

    def delete_where_dv(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
    ) -> int:
        """MERGE-ON-READ DELETE of rows with ``lo <= col <= hi`` via a
        position DELETION VECTOR, published as a new version; returns
        it. Where ``delete_where`` rewrites every may-match snapshot
        dir (copy-on-write: write cost O(rows in matching dirs)), this
        writes only the (table-relative file path, row index) of each
        doomed row to a ``dv-*`` parquet dir and records it in the
        manifest — write cost O(rows DELETED), the data plane is never
        touched. Every read path anti-joins the vectors (``_read_dirs``),
        so results are identical to the copy-on-write delete; the read
        pays one small anti-join until ``compact``/``compact_clustered``
        re-materializes the data and drops the vectors (merge-on-read's
        standard read-amplification-for-write-latency trade — at 100 TB
        a trickle of GDPR deletes costs megabytes of vectors instead of
        rewriting terabyte snapshots, with compaction amortizing the
        read tax on its own schedule).

        Manifest stats are carried VERBATIM: vectors only remove rows,
        so recorded [min, max]/bloom bits stay conservative-sound for
        skipping (a fully-deleted dir is still scanned until the next
        compaction — a cost, never a wrong answer). Stacked DV deletes
        compose by unioning vectors; rows already deleted by an earlier
        vector are excluded from the new one, so ``dv_rows`` in the
        commit meta is the exact count newly deleted. NULLs in ``col``
        never match a range predicate. Old versions remain
        time-travelable (their manifests don't list the new vector);
        optimistic concurrency via the manifest CAS as everywhere."""
        from pyspark.sql import functions as F

        cur = self.current_version()
        if cur == 0:
            raise ValueError("nothing to delete: table has no committed version")
        if lo is None and hi is None:
            raise ValueError("delete_where_dv needs at least one bound")
        manifest = self._manifest(cur)
        sj = manifest.get("schema")
        if sj is not None:
            clash = _DV_RESERVED & {f["name"] for f in sj["fields"]}
            if clash:
                raise ValueError(
                    f"table columns {sorted(clash)} collide with the "
                    "deletion-vector machinery's reserved names; rename "
                    "them or use the copy-on-write delete_where"
                )
        may_match, preserved = self._prune(manifest, {col: (lo, hi)})
        new_version = cur + 1
        cleanup: list[str] = []
        dv_rows = 0
        new_dv = None
        if may_match:
            matched = F.col(col).isNotNull()
            if lo is not None:
                matched = matched & (F.col(col) >= F.lit(lo))
            if hi is not None:
                matched = matched & (F.col(col) <= F.lit(hi))
            dvdir, dv_rows = self._write_vector(
                spark, manifest, may_match, lambda raw: raw.where(matched)
            )
            if dvdir is not None:
                cleanup.append(dvdir)
                new_dv = (os.path.basename(dvdir), may_match)
        payload = _successor(
            manifest,
            new_version,
            "delete_dv",
            manifest["dirs"],
            meta={
                "deleted_from": cur,
                "dv_rows": dv_rows,
                "dv_target_dirs": len(may_match),
                "preserved_dirs": len(preserved),
            },
            dv=new_dv,
        )
        return self._publish_manifest(payload, new_version, cleanup)

    def _write_vector(
        self, spark: SparkSession, manifest: dict, dirs, doomed
    ) -> tuple[str | None, int]:
        """Write one position deletion vector over ``dirs``: ``doomed``
        picks the rows to delete from a raw scan of the dirs tagged with
        each row's ``_dv_rel_path``/``_dv_pos``. The scan is fresh
        because a DV-applying ``_read_dirs`` read loses ``_metadata``
        resolution past its anti-join; positions a PRIOR vector of the
        dirs already deleted are excluded, so the returned row count is
        the exact newly deleted one. Returns (vector dir, rows), or
        (None, 0) when no live row matched: an empty vector is neither
        registered nor kept."""
        from pyspark.sql import functions as F

        paths = [os.path.join(self.path, d) for d in dirs]
        sj = manifest.get("schema")
        if sj is not None:
            from pyspark.sql.types import StructType

            raw = spark.read.schema(StructType.fromJson(sj)).parquet(*paths)
        else:
            raw = spark.read.parquet(*paths)
        # Tag positions on the scan itself: _metadata resolves only
        # there, and a join projects it away.
        tagged = raw.select(
            "*",
            F.regexp_extract(
                F.col("_metadata.file_path"), _DV_RELPATH_RE, 1
            ).alias("_dv_rel_path"),
            F.col("_metadata.row_index").alias("_dv_pos"),
        )
        pos = doomed(tagged).select("_dv_rel_path", "_dv_pos")
        have = manifest.get("dv", {})
        prior = sorted({n for d in dirs for n in have.get(d, [])})
        if prior:
            pos = pos.join(
                self._read_dv(spark, prior),
                ["_dv_rel_path", "_dv_pos"],
                "left_anti",
            )
        dvdir = os.path.join(self.path, f"dv-{uuid.uuid4().hex[:12]}")
        # One file per vector: DV deletes and MOR merges are the SMALL
        # path (a trickle of erasures or upserts against big snapshots);
        # a batch large enough to make one writer the bottleneck should
        # be copy-on-write (delete_where, merge_rows, apply_cdc), which
        # also spares readers the proportionally large anti-join.
        pos.coalesce(1).write.mode("error").parquet(dvdir)
        fsync_tree(dvdir)
        fsync_path(self.path)
        rows = spark.read.schema(_dv_schema()).parquet(dvdir).count()
        if rows == 0:
            shutil.rmtree(dvdir, ignore_errors=True)
            return None, 0
        return dvdir, rows

    def merge_rows(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: str,
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
    ) -> int:
        """Copy-on-write MERGE (upsert, latest-wins by ``key``): rows of
        ``updates`` replace same-key rows; new keys are inserted.
        Published as a new version; returns it.

        The manifest stats prune the rewrite the same way they prune
        reads and deletes: the update batch's key range [min, max] is
        one narrow agg (bounded scalars), and any dir whose recorded
        key range cannot intersect it is carried into the new manifest
        UNTOUCHED — only may-match dirs are read, anti-joined on the
        update keys, and rewritten together with the update batch as
        one fresh snapshot. A CDC batch touching recent keys (the
        common case) then costs O(recent snapshots), not a full-table
        rewrite. Range pruning is the honest simple criterion — an
        update batch spanning the whole key domain rewrites everything,
        exactly as it must; production formats add bloom/partition
        metadata on top of the same skeleton. ``updates`` must carry
        the table schema (columns are aligned by name), with ``key``
        non-NULL and unique per row — a NULL key can never match a base
        row and a duplicated key has no defined winner, so both raise
        (SQL MERGE's multiple-source-match discipline) instead of
        silently inserting. Optimistic concurrency as in
        ``compact``/``delete_where``."""
        from pyspark.sql import functions as F

        # Pin the update batch once: the bounds/validation aggregate,
        # the anti-join, and the union+write are three separate jobs,
        # and a non-deterministic or re-read source could pass
        # validation yet materialize different (NULL/duplicate-key)
        # rows in the written snapshot (advisor finding). After the
        # checkpoint all three consumers see the same rows; an update
        # batch is bounded CDC-shaped data, so executor-local
        # materialization is cheap.
        updates = updates.localCheckpoint(eager=True)
        bounds = updates.agg(
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
            F.count("*").alias("n"),
            F.count(key).alias("n_keyed"),
            F.count_distinct(key).alias("n_keys"),
        ).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"]
        if bounds["n_keyed"] < bounds["n"]:
            raise ValueError(
                f"merge_rows update batch has "
                f"{bounds['n'] - bounds['n_keyed']} NULL {key!r} rows; "
                "a NULL key matches nothing"
            )
        if bounds["n_keys"] < bounds["n_keyed"]:
            raise ValueError(
                f"merge_rows update batch has duplicate {key!r} values "
                f"({bounds['n']} rows, {bounds['n_keys']} distinct keys); "
                "latest-wins needs one row per key"
            )
        cur = self.current_version()
        if cur == 0:
            return self.commit(
                updates,
                "overwrite",
                stats_cols=stats_cols,
                bloom_cols=bloom_cols,
            )
        manifest = self._manifest(cur)
        _validate_constraints(
            updates,
            _carried_props(manifest).get("constraints", {}),
            "merge_rows update batch",
            manifest.get("schema"),
        )
        if lo is None:  # empty update batch: pure-metadata new version
            may_match: list[str] = []
            preserved = list(manifest["dirs"])
        else:
            may_match, preserved = self._prune(manifest, {key: (lo, hi)})
        new_version = cur + 1
        added: dict[str, dict] = {}
        cleanup: list[str] = []
        if lo is not None:
            new_rows = updates
            if may_match:
                base = self._read_dirs(spark, manifest, may_match)
                survivors = base.join(
                    updates.select(F.col(key)).distinct(), key, "left_anti"
                )
                new_rows = survivors.unionByName(
                    updates.select(*survivors.columns)
                )
            snap = os.path.join(self.path, f"snap-{uuid.uuid4().hex[:12]}")
            added[os.path.basename(snap)] = _write_snap_with_stats(
                new_rows, snap, self.path, stats_cols, bloom_cols
            )
            cleanup.append(snap)
        payload = _successor(
            manifest,
            new_version,
            "merge",
            [d for d in manifest["dirs"] if d in set(preserved)],
            added,
            {
                "merged_from": cur,
                "rewrote_dirs": len(may_match),
                "preserved_dirs": len(preserved),
            },
        )
        return self._publish_manifest(payload, new_version, cleanup)

    def merge_rows_mor(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: str,
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
    ) -> int:
        """MERGE-ON-READ MERGE (upsert, latest-wins by ``key``): same
        answer as ``merge_rows``, different write shape. Matched base
        rows become position DELETION-VECTOR entries (the
        ``delete_where_dv`` machinery) and the update batch appends as
        ONE new snapshot dir — write cost O(update batch + matched
        positions), the base data plane is never rewritten. Where the
        copy-on-write ``merge_rows`` re-materializes every may-match
        dir (an upsert touching one row in a dir rewrites the dir),
        this is the path a 100 TB table takes for trickle upserts: a
        CDC batch against terabyte snapshots writes megabytes (the
        vector + the batch), and ``compact``/``compact_clustered``
        re-materializes on its own schedule, dropping the vectors.

        Reads pay merge-on-read's standard tax: the file-granular DV
        anti-join in ``_read_dirs`` plus one extra snapshot dir per
        merge until compaction. Manifest stats of base dirs are
        carried VERBATIM (vectors only remove rows — recorded ranges
        and bloom bits stay conservative-sound for skipping); the new
        snapshot gets fresh stats. Update-batch discipline is
        identical to ``merge_rows``: the batch is pinned once
        (localCheckpoint), ``key`` must be non-NULL and unique per row
        (SQL MERGE's multiple-source-match rule), CHECK constraints
        are validated, and candidate dirs come from the key-range
        prune, so untouched snapshots are not even scanned for
        matches. Rows a PRIOR vector already deleted are excluded from
        the new vector (``dv_rows`` in the commit meta is the exact
        newly-dead count on tables without equality deletes; eq-dead
        rows are not position-resolved, so on a table that mixes both
        mechanisms dv_rows — and the maintenance debt metric — is an
        upper bound). Old versions stay time-travelable;
        optimistic concurrency via the manifest CAS as everywhere."""
        from pyspark.sql import functions as F

        # Pin the update batch once — same three-consumer rationale as
        # merge_rows (bounds agg, DV build, snapshot write must all see
        # identical rows).
        updates = updates.localCheckpoint(eager=True)
        bounds = updates.agg(
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
            F.count("*").alias("n"),
            F.count(key).alias("n_keyed"),
            F.count_distinct(key).alias("n_keys"),
        ).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"]
        if bounds["n_keyed"] < bounds["n"]:
            raise ValueError(
                f"merge_rows_mor update batch has "
                f"{bounds['n'] - bounds['n_keyed']} NULL {key!r} rows; "
                "a NULL key matches nothing"
            )
        if bounds["n_keys"] < bounds["n_keyed"]:
            raise ValueError(
                f"merge_rows_mor update batch has duplicate {key!r} "
                f"values ({bounds['n']} rows, {bounds['n_keys']} distinct "
                "keys); latest-wins needs one row per key"
            )
        cur = self.current_version()
        if cur == 0:
            return self.commit(
                updates,
                "overwrite",
                stats_cols=stats_cols,
                bloom_cols=bloom_cols,
            )
        return self._mor_apply(
            spark,
            cur=cur,
            batch_cols=updates.columns,
            kill_keys=updates.select(F.col(key)).distinct(),
            inserts=updates if lo is not None else None,
            key=key,
            lo=lo,
            hi=hi,
            stats_cols=stats_cols,
            bloom_cols=bloom_cols,
            mode="merge_mor",
            label="merge_rows_mor update batch",
            meta={"merged_from": cur},
        )

    def upsert_eq(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: str,
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
    ) -> int:
        """EQUALITY-DELETE upsert (latest-wins by ``key``): same answer
        as ``merge_rows`` / ``merge_rows_mor``, cheapest possible
        write. Where the position-vector MOR merge still SCANS every
        may-match dir to find doomed row positions, this writes ONLY
        the batch: one ``eq-`` dir holding the batch's distinct keys
        (registered against the stats-pruned may-match dirs) plus one
        snapshot dir of the batch rows — O(batch) work with ZERO base
        reads, the Iceberg-v2 equality-delete shape a streaming writer
        uses precisely because position lookups against a 100 TB base
        are the expensive part. The eq file is self-describing (its
        single column is the delete key) and SCOPED: readers apply it
        only to the dirs it was registered against, never to the
        batch's own snapshot, so re-inserted keys survive
        (``_read_dirs``).

        The trade, honestly: reads pay a key anti-join whose probe
        side is every row of the registered dirs (position vectors
        pre-resolved that to file-granular row ids), so eq deletes are
        the WRITE-cheapest and READ-costliest tier — trickle writers
        use them and let ``compact`` (or any rewrite) materialize;
        ``maintenance_plan`` counts eq rows into the same
        merge-on-read debt that schedules compaction. Batch discipline
        is identical to the merges: pinned batch, non-NULL unique
        keys, CHECK constraints, loud missing-column check; an empty
        batch publishes a pure-metadata version; prior eq files and
        position vectors carry verbatim and compose (all subtractive,
        disjoint mechanisms)."""
        from pyspark.sql import functions as F

        updates = updates.localCheckpoint(eager=True)
        bounds = updates.agg(
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
            F.count("*").alias("n"),
            F.count(key).alias("n_keyed"),
            F.count_distinct(key).alias("n_keys"),
        ).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"]
        if bounds["n_keyed"] < bounds["n"]:
            raise ValueError(
                f"upsert_eq update batch has "
                f"{bounds['n'] - bounds['n_keyed']} NULL {key!r} rows; "
                "a NULL key matches nothing"
            )
        if bounds["n_keys"] < bounds["n_keyed"]:
            raise ValueError(
                f"upsert_eq update batch has duplicate {key!r} values "
                f"({bounds['n']} rows, {bounds['n_keys']} distinct "
                "keys); latest-wins needs one row per key"
            )
        cur = self.current_version()
        if cur == 0:
            return self.commit(
                updates,
                "overwrite",
                stats_cols=stats_cols,
                bloom_cols=bloom_cols,
            )
        manifest = self._manifest(cur)
        sj = manifest.get("schema")
        inserts = updates
        if sj is not None:
            wanted = [f["name"] for f in sj["fields"]]
            gap = [c for c in wanted if c not in set(updates.columns)]
            if gap:
                raise ValueError(
                    f"upsert_eq update batch is missing table "
                    f"column(s) {gap}"
                )
            inserts = updates.select(*wanted)
        _validate_constraints(
            inserts,
            _carried_props(manifest).get("constraints", {}),
            "upsert_eq update batch",
            sj,
        )
        if lo is None:  # empty batch: pure-metadata new version
            may_match: list[str] = []
            preserved = list(manifest["dirs"])
        else:
            may_match, preserved = self._prune(manifest, {key: (lo, hi)})
        new_version = cur + 1
        added: dict[str, dict] = {}
        new_eq = None
        cleanup: list[str] = []
        if lo is not None:
            if may_match:
                eqdir = os.path.join(
                    self.path, f"eq-{uuid.uuid4().hex[:12]}"
                )
                # One file per eq set, like the vectors: bounded by
                # the batch's keys, never table size. No distinct —
                # the batch was just validated unique-per-key, and a
                # redundant shuffle has no place on the O(batch) hot
                # path (r12 second review).
                inserts.select(F.col(key)).coalesce(1).write.mode(
                    "error"
                ).parquet(eqdir)
                fsync_tree(eqdir)
                fsync_path(self.path)
                cleanup.append(eqdir)
                new_eq = (os.path.basename(eqdir), may_match)
            snap = os.path.join(self.path, f"snap-{uuid.uuid4().hex[:12]}")
            added[os.path.basename(snap)] = _write_snap_with_stats(
                inserts, snap, self.path, stats_cols, bloom_cols
            )
            cleanup.append(snap)
        payload = _successor(
            manifest,
            new_version,
            "merge_eq",
            manifest["dirs"],
            added,
            {
                "merged_from": cur,
                "eq_keys": int(bounds["n_keys"] or 0),
                "eq_target_dirs": len(may_match),
                "preserved_dirs": len(preserved),
            },
            eq=new_eq,
        )
        return self._publish_manifest(payload, new_version, cleanup)

    def delete_eq(
        self,
        spark: SparkSession,
        keys: DataFrame,
        key: str,
    ) -> int:
        """EQUALITY DELETE by key set — the erasure half of the
        ``upsert_eq`` tier (a Flink-style CDC writer emits exactly
        this for tombstones): the batch's distinct keys land as ONE
        self-describing ``eq-`` file registered against the
        stats-pruned may-match dirs, nothing else is written or read —
        O(batch) erasure with ZERO base reads, where
        ``delete_where_dv`` still scans may-match dirs to resolve
        positions (and only expresses RANGES). A key absent from the
        table deletes nothing (set semantics); duplicate batch keys
        collapse. Same read/compaction/vacuum/maintenance lifecycle as
        every eq file (``_read_dirs`` scoping, MOR debt, map-
        referenced liveness)."""
        from pyspark.sql import functions as F

        keys = keys.select(F.col(key)).localCheckpoint(eager=True)
        bounds = keys.agg(
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
            F.count("*").alias("n"),
            F.count(key).alias("n_keyed"),
            F.count_distinct(key).alias("n_keys"),
        ).collect()[0]
        if bounds["n_keyed"] < bounds["n"]:
            raise ValueError(
                f"delete_eq batch has {bounds['n'] - bounds['n_keyed']} "
                f"NULL {key!r} rows; a NULL key matches nothing"
            )
        cur = self.current_version()
        if cur == 0:
            raise ValueError(
                "nothing to delete: table has no committed version"
            )
        manifest = self._manifest(cur)
        sj = manifest.get("schema")
        if sj is not None and key not in {f["name"] for f in sj["fields"]}:
            # A typo'd key would otherwise publish a poison version:
            # the eq file comes from the KEYS df (which has the
            # column), so the write succeeds and every later read
            # throws UNRESOLVED_COLUMN in the anti-join — with compact
            # unable to repair it because it reads the same path
            # (r12 second review). Fail at write time instead.
            raise ValueError(
                f"delete_eq key {key!r} is not a table column"
            )
        lo, hi = bounds["lo"], bounds["hi"]
        if lo is None:
            may_match: list[str] = []
            preserved = list(manifest["dirs"])
        else:
            may_match, preserved = self._prune(manifest, {key: (lo, hi)})
        new_version = cur + 1
        new_eq = None
        cleanup: list[str] = []
        if may_match:
            eqdir = os.path.join(self.path, f"eq-{uuid.uuid4().hex[:12]}")
            keys.distinct().coalesce(1).write.mode("error").parquet(eqdir)
            fsync_tree(eqdir)
            fsync_path(self.path)
            cleanup.append(eqdir)
            new_eq = (os.path.basename(eqdir), may_match)
        payload = _successor(
            manifest,
            new_version,
            "delete_eq",
            manifest["dirs"],
            meta={
                "deleted_from": cur,
                "eq_keys": int(bounds["n_keys"] or 0),
                "eq_target_dirs": len(may_match),
                "preserved_dirs": len(preserved),
            },
            eq=new_eq,
        )
        return self._publish_manifest(payload, new_version, cleanup)

    def _mor_apply(
        self,
        spark: SparkSession,
        *,
        cur: int,
        batch_cols,
        kill_keys: DataFrame,
        inserts: DataFrame | None,
        key: str,
        lo,
        hi,
        stats_cols,
        bloom_cols,
        mode: str,
        label: str,
        meta: dict,
    ) -> int:
        """The shared MERGE-ON-READ write path of ``merge_rows_mor``
        and ``apply_cdc_mor``: live base positions of ``kill_keys``
        become one position deletion vector (prior vectors excluded),
        ``inserts`` (None = nothing to add) appends as one snapshot
        dir, base dirs and their stats carry verbatim. ``lo``/``hi``
        bound ALL batch keys (kills and inserts) so the key-range
        prune covers tombstone matching too; ``batch_cols`` is the
        caller's raw column list for the loud missing-column check."""
        manifest = self._manifest(cur)
        sj = manifest.get("schema")
        if sj is not None:
            clash = _DV_RESERVED & {f["name"] for f in sj["fields"]}
            if clash:
                raise ValueError(
                    f"table columns {sorted(clash)} collide with the "
                    "deletion-vector machinery's reserved names; rename "
                    "them or use the copy-on-write path"
                )
            # Parity with merge_rows' select(*survivors.columns): a
            # batch missing a table column must fail loudly, not append
            # a thin snapshot that reads the column as NULL. Gated on
            # an actual append: a tombstone-only CDC batch carrying no
            # payload columns appends nothing, so there is nothing to
            # fail loudly about (r12 review).
            if inserts is not None:
                wanted = [f["name"] for f in sj["fields"]]
                gap = [c for c in wanted if c not in set(batch_cols)]
                if gap:
                    raise ValueError(
                        f"{label} is missing table column(s) {gap}"
                    )
                inserts = inserts.select(*wanted)
        if inserts is not None:
            _validate_constraints(
                inserts,
                _carried_props(manifest).get("constraints", {}),
                label,
                sj,
            )
        if lo is None:  # empty batch: pure-metadata new version
            may_match: list[str] = []
            preserved = list(manifest["dirs"])
        else:
            may_match, preserved = self._prune(manifest, {key: (lo, hi)})
        new_version = cur + 1
        cleanup: list[str] = []
        dv_rows = 0
        new_dv = None
        if may_match:
            # The delete_where_dv discipline, with the match predicate
            # being key membership in the batch instead of a range. The
            # kill-keys side is the bounded validated batch, so AQE
            # broadcast-picks it. When the range stats kept dirs but no
            # live base row shares a key with the batch, this is a pure
            # insert with no vector.
            dvdir, dv_rows = self._write_vector(
                spark,
                manifest,
                may_match,
                lambda raw: raw.join(kill_keys, key, "semi"),
            )
            if dvdir is not None:
                cleanup.append(dvdir)
                new_dv = (os.path.basename(dvdir), may_match)
        added: dict[str, dict] = {}
        if inserts is not None:
            snap = os.path.join(self.path, f"snap-{uuid.uuid4().hex[:12]}")
            added[os.path.basename(snap)] = _write_snap_with_stats(
                inserts, snap, self.path, stats_cols, bloom_cols
            )
            cleanup.append(snap)
        payload = _successor(
            manifest,
            new_version,
            mode,
            manifest["dirs"],
            added,
            {
                **meta,
                "dv_rows": dv_rows,
                "dv_target_dirs": len(may_match),
                "preserved_dirs": len(preserved),
            },
            dv=new_dv,
        )
        return self._publish_manifest(payload, new_version, cleanup)

    def apply_cdc(
        self,
        spark: SparkSession,
        changes: DataFrame,
        key: str,
        deleted_col: str = "_deleted",
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
    ) -> int:
        """Apply one CDC batch with TOMBSTONES — the full
        ``MERGE WHEN MATCHED AND d THEN DELETE / WHEN MATCHED THEN
        UPDATE / WHEN NOT MATCHED THEN INSERT`` shape (a Debezium-style
        feed where ``deleted_col`` marks erasures): tombstoned keys are
        removed, live rows upsert latest-wins. Published as one new
        version; returns it.

        Built ON the stats-pruned ``merge_rows`` skeleton: the batch's
        key range prunes which dirs rewrite (tombstones and upserts
        ride the SAME anti-join pass, so a CDC batch costs exactly one
        rewrite of may-match dirs — never two), and the same
        NULL/duplicate-key validation applies to the whole batch
        (``deleted_col`` must be boolean, non-NULL). A tombstone for an
        absent key is a no-op, as in SQL MERGE. Constraints gate only
        the LIVE rows (tombstones carry no payload to validate).
        Scale: this is the ingestion shape of every CDC-fed 100 TB
        table — O(recent snapshots) per batch, with erasure and upsert
        in one pass."""
        from pyspark.sql import functions as F

        if deleted_col not in changes.columns:
            raise ValueError(
                f"apply_cdc needs a boolean {deleted_col!r} column "
                "marking tombstones"
            )
        dt = dict(changes.dtypes).get(deleted_col)
        if dt != "boolean":
            raise ValueError(
                f"{deleted_col!r} must be boolean, got {dt}"
            )
        changes = changes.localCheckpoint(eager=True)  # one batch, 3 jobs
        bounds = changes.agg(
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
            F.count("*").alias("n"),
            F.count(key).alias("n_keyed"),
            F.count_distinct(key).alias("n_keys"),
            F.count(deleted_col).alias("n_flagged"),
            F.count_if(F.col(deleted_col)).alias("n_deleted"),
        ).collect()[0]
        if bounds["n_flagged"] < bounds["n"]:
            raise ValueError(
                f"{deleted_col!r} is NULL on "
                f"{bounds['n'] - bounds['n_flagged']} rows; a change is "
                "either a tombstone or an upsert"
            )
        if bounds["n_keyed"] < bounds["n"]:
            raise ValueError(
                f"apply_cdc batch has {bounds['n'] - bounds['n_keyed']} "
                f"NULL {key!r} rows; a NULL key matches nothing"
            )
        if bounds["n_keys"] < bounds["n_keyed"]:
            raise ValueError(
                f"apply_cdc batch has duplicate {key!r} values "
                f"({bounds['n']} rows, {bounds['n_keys']} distinct); "
                "collapse to latest-per-key upstream"
            )
        live = changes.filter(~F.col(deleted_col)).drop(deleted_col)
        cur = self.current_version()
        if cur == 0:
            # Tombstones on an empty table are no-ops; insert the rest.
            return self.commit(
                live, "overwrite", stats_cols=stats_cols,
                bloom_cols=bloom_cols,
            )
        manifest = self._manifest(cur)
        _validate_constraints(
            live,
            _carried_props(manifest).get("constraints", {}),
            "apply_cdc live rows",
            manifest.get("schema"),
        )
        lo, hi = bounds["lo"], bounds["hi"]
        if lo is None:
            may_match: list[str] = []
            preserved = list(manifest["dirs"])
        else:
            may_match, preserved = self._prune(manifest, {key: (lo, hi)})
        new_version = cur + 1
        added: dict[str, dict] = {}
        cleanup: list[str] = []
        n_live = bounds["n"] - bounds["n_deleted"]
        if lo is not None:
            # A tombstone-only batch appends nothing: with matching
            # dirs it rewrites survivors alone; with none (pure no-op
            # tombstones) the new version is metadata-only. The union
            # with `live` is gated on actual live rows so a payload-
            # free tombstone feed (id + flag only) is accepted — there
            # is no thin snapshot to guard against (r12 review).
            new_rows = None
            if may_match:
                base = self._read_dirs(spark, manifest, may_match)
                # ONE anti-join on ALL change keys evicts both the
                # tombstoned rows (gone) and the updated rows
                # (re-inserted from `live`).
                new_rows = base.join(
                    changes.select(F.col(key)).distinct(), key, "left_anti"
                )
                if n_live > 0:
                    new_rows = new_rows.unionByName(
                        live.select(*new_rows.columns)
                    )
            elif n_live > 0:
                new_rows = live
            if new_rows is not None:
                snap = os.path.join(self.path, f"snap-{uuid.uuid4().hex[:12]}")
                added[os.path.basename(snap)] = _write_snap_with_stats(
                    new_rows, snap, self.path, stats_cols, bloom_cols
                )
                cleanup.append(snap)
        payload = _successor(
            manifest,
            new_version,
            "cdc",
            [d for d in manifest["dirs"] if d in set(preserved)],
            added,
            {
                "cdc_from": cur,
                "rewrote_dirs": len(may_match),
                "preserved_dirs": len(preserved),
                "n_changes": bounds["n"],
            },
        )
        return self._publish_manifest(payload, new_version, cleanup)

    def apply_cdc_mor(
        self,
        spark: SparkSession,
        changes: DataFrame,
        key: str,
        deleted_col: str = "_deleted",
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
    ) -> int:
        """MERGE-ON-READ CDC APPLY: same answer as ``apply_cdc``
        (tombstoned keys removed, live rows upsert latest-wins),
        different write shape — the shared ``_mor_apply`` path of
        ``merge_rows_mor``. EVERY change key's live base positions
        (tombstones AND updates alike) die via ONE position deletion
        vector, and only the live rows append as one snapshot dir, so
        a CDC batch costs O(batch + matched positions) to write where
        ``apply_cdc`` rewrites every may-match dir. This is the
        steady-state shape of a CDC-fed 100 TB table: the Debezium
        trickle writes kilobyte vectors + the batch, and compaction
        materializes on its own schedule. Same batch discipline as
        ``apply_cdc``: boolean non-NULL ``deleted_col``, non-NULL
        unique keys (latest-per-key upstream), constraints gate only
        the live rows, tombstones for absent keys are no-ops (the
        semi-join finds no position). Reads pay the standard MOR tax
        until compaction; base-dir stats carry verbatim
        (conservative-sound: vectors only remove rows)."""
        from pyspark.sql import functions as F

        if deleted_col not in changes.columns:
            raise ValueError(
                f"apply_cdc_mor needs a boolean {deleted_col!r} column "
                "marking tombstones"
            )
        dt = dict(changes.dtypes).get(deleted_col)
        if dt != "boolean":
            raise ValueError(
                f"{deleted_col!r} must be boolean, got {dt}"
            )
        changes = changes.localCheckpoint(eager=True)  # one batch, 3 jobs
        bounds = changes.agg(
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
            F.count("*").alias("n"),
            F.count(key).alias("n_keyed"),
            F.count_distinct(key).alias("n_keys"),
            F.count(deleted_col).alias("n_flagged"),
            F.count_if(F.col(deleted_col)).alias("n_deleted"),
        ).collect()[0]
        if bounds["n_flagged"] < bounds["n"]:
            raise ValueError(
                f"{deleted_col!r} is NULL on "
                f"{bounds['n'] - bounds['n_flagged']} rows; a change is "
                "either a tombstone or an upsert"
            )
        if bounds["n_keyed"] < bounds["n"]:
            raise ValueError(
                f"apply_cdc_mor batch has {bounds['n'] - bounds['n_keyed']} "
                f"NULL {key!r} rows; a NULL key matches nothing"
            )
        if bounds["n_keys"] < bounds["n_keyed"]:
            raise ValueError(
                f"apply_cdc_mor batch has duplicate {key!r} values "
                f"({bounds['n']} rows, {bounds['n_keys']} distinct); "
                "collapse to latest-per-key upstream"
            )
        live = changes.filter(~F.col(deleted_col)).drop(deleted_col)
        n_live = bounds["n"] - bounds["n_deleted"]
        cur = self.current_version()
        if cur == 0:
            # Tombstones on an empty table are no-ops; insert the rest.
            return self.commit(
                live, "overwrite", stats_cols=stats_cols,
                bloom_cols=bloom_cols,
            )
        return self._mor_apply(
            spark,
            cur=cur,
            batch_cols=live.columns,
            kill_keys=changes.select(F.col(key)).distinct(),
            inserts=live if n_live > 0 else None,
            key=key,
            lo=bounds["lo"],
            hi=bounds["hi"],
            stats_cols=stats_cols,
            bloom_cols=bloom_cols,
            mode="cdc_mor",
            label="apply_cdc_mor live rows",
            meta={"cdc_from": cur, "n_changes": bounds["n"]},
        )

    # -- maintenance --------------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        target_files: int = 8,
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
    ) -> int:
        """Rewrite the CURRENT version's snapshot set as ONE fresh
        snapshot dir of at most ``target_files`` files — the
        OPTIMIZE / rewrite-data-files maintenance op of every table
        format. Every append extends the manifest by one dir (the
        streaming sinks commit one per microbatch), so an append-heavy
        table fans its reads across many small dirs/files; compaction
        restores O(target_files) read cost while old versions remain
        time-travelable until ``vacuum`` reclaims them.

        Content-preserving by construction: the new snapshot IS the
        read of the old one (``coalesce`` — no shuffle, just fewer
        write tasks), streamed scan→write with no driver
        materialization, safe because source dirs and the target dir
        never overlap. Concurrency-safe: the commit carries
        ``expected_version``, so a writer landing mid-compaction wins
        and the compaction raises ``CommitConflict`` instead of
        silently discarding that writer's rows (rewrite jobs are the
        retryable party, exactly as in every optimistic table format).
        """
        cur = self.current_version()
        if cur == 0:
            raise ValueError("nothing to compact: table has no committed version")
        df = self.read(spark, cur).coalesce(target_files)
        return self.commit(
            df,
            mode="overwrite",
            expected_version=cur,
            meta={"compacted_from": cur},
            stats_cols=stats_cols,
            bloom_cols=bloom_cols,
            validate=False,  # content-preserving: data already gated
        )

    def compact_clustered(
        self,
        spark: SparkSession,
        col: str,
        n_buckets: int = 8,
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
    ) -> int:
        """OPTIMIZE ... CLUSTER BY: rewrite the CURRENT version as up to
        ``n_buckets`` range-disjoint snapshot sub-dirs (equal-width
        buckets over [min, max] of ``col``), each carrying its own
        manifest stats. Plain ``compact`` restores small-file health but
        collapses everything into ONE dir — after which dir-granular
        skipping can prune nothing; this variant restores BOTH: an
        append-fragmented or unclustered table becomes one snapshot
        whose sub-dirs partition the key range, so ranged reads, deletes
        and merges are back to O(matching buckets). One scan writes all
        buckets (``partitionBy`` on the computed bucket — the bucket
        key lives in directory names, not in the data files); the
        bucketing expression is exact integer arithmetic on the
        [min, max] scalars, so an external oracle replays every bucket
        boundary. Empty buckets write no dir. Content-preserving and
        concurrency-safe exactly like ``compact``. ``col`` must be
        losslessly BIGINT-castable (integer keys): a string/date key
        would bucket by its cast, which silently parks non-castable
        rows — so that raises instead."""
        from pyspark.sql import functions as F

        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        cur = self.current_version()
        if cur == 0:
            raise ValueError(
                "nothing to compact: table has no committed version"
            )
        df = self.read(spark, cur)
        if "_bucket" in df.columns:
            raise ValueError(
                "table has a column named _bucket, which the clustered "
                "write uses as its partition key; rename it first"
            )
        b = df.agg(
            # min/max AFTER the cast — min-then-cast on digit strings
            # is lexicographic ('10' < '9') and would corrupt the
            # bucket arithmetic (review finding, shared with zorder).
            F.min(F.col(col).cast("bigint")).alias("lo"),
            F.max(F.col(col).cast("bigint")).alias("hi"),
            F.count(col).alias("n_keyed"),
            F.count(F.col(col).cast("bigint")).alias("n_cast"),
        ).collect()[0]
        lo, hi = b["lo"], b["hi"]
        if b["n_cast"] < b["n_keyed"]:
            raise ValueError(
                f"cannot cluster on {col!r}: "
                f"{b['n_keyed'] - b['n_cast']} values are not "
                "BIGINT-castable — clustering by a lossy cast would "
                "silently break the range-disjoint contract"
            )
        if lo is None:
            raise ValueError(
                f"cannot cluster on {col!r}: no non-NULL values"
            )
        span = hi - lo + 1  # exact Python int — never wraps
        # The bucket multiply runs in BIGINT on the executors: with a
        # key domain wide enough that (span - 1) * n_buckets >= 2^63 it
        # would wrap silently under non-ANSI SQL, yielding
        # non-range-disjoint buckets (advisor finding). Equal-width
        # bucketing over a near-full 64-bit domain is meaningless
        # (hash-spread keys), so refuse loudly instead.
        if (span - 1) * n_buckets >= 2**63:
            raise ValueError(
                f"cannot cluster on {col!r}: key span {span} times "
                f"{n_buckets} buckets overflows BIGINT — the domain is "
                "hash-spread, not range-clusterable; bucket a narrower "
                "derived key instead"
            )
        # Integer DIV, never float division: the bucket id must be the
        # exact same integer in any engine (the oracle replays it), and
        # (x * n_buckets) can exceed double's 53-bit mantissa on wide
        # key domains.
        bucket = F.least(
            F.lit(n_buckets - 1),
            F.expr(
                f"CAST((CAST({col} AS BIGINT) - {lo}) * {n_buckets} "
                f"DIV {span} AS BIGINT)"
            ),
        )
        # NULL keys can't be range-bucketed; park them in bucket 0 (they
        # are never skipped FOR a range predicate anyway — the dir's
        # min/max stats come from the non-NULL rows it holds).
        bucket = F.coalesce(bucket, F.lit(0))
        snap = os.path.join(self.path, f"snap-{uuid.uuid4().hex[:12]}")
        # Shuffle on the bucket key first: otherwise every input task
        # writes a sliver into every bucket sub-dir (same fix as
        # compact_zordered, measured 2.5x there at 64 buckets).
        df.withColumn("_bucket", bucket).repartition(
            F.col("_bucket")
        ).write.mode("error").partitionBy("_bucket").parquet(snap)
        fsync_tree(snap)
        fsync_path(self.path)
        base = os.path.basename(snap)
        subdirs = sorted(
            f"{base}/{d}"
            for d in os.listdir(snap)
            if d.startswith("_bucket=")
        )
        # Per-bucket stats in ONE grouped pass over the freshly written
        # snapshot (shared helper; also records the bloom column type,
        # which the pre-helper clustered path omitted — its bitmaps
        # were dead metadata once point lookups started validating the
        # probe against the recorded type).
        stats = _grouped_subdir_stats(
            spark, snap, "_bucket", stats_cols, bloom_cols
        )
        payload = _successor(
            self._manifest(cur),
            cur + 1,
            "overwrite",
            [],
            {d: stats.get(d) for d in subdirs},
            {
                "clustered_from": cur,
                "cluster_col": col,
                "n_buckets": len(subdirs),
            },
        )
        return self._publish_manifest(payload, cur + 1, [snap])

    def compact_zordered(
        self,
        spark: SparkSession,
        col_x: str,
        col_y: str,
        n_bucket_bits: int = 6,
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
    ) -> int:
        """OPTIMIZE ... ZORDER BY (col_x, col_y): rewrite the CURRENT
        version as up to ``2**n_bucket_bits`` snapshot sub-dirs keyed by
        the top z-bits of the MORTON INTERLEAVE of the two min-max-
        scaled columns, each sub-dir carrying min/max stats on BOTH
        columns. Where ``compact_clustered`` restores skipping along
        ONE axis, a z-layout bounds every sub-dir's extent in BOTH
        dimensions — so ``plan``'s compound predicates
        (the time-range-AND-key-range shape real scans have) prune on
        either or both columns after ONE rewrite. Same contracts as
        ``compact_clustered``: deterministic equal-width grid (scaling
        and interleave are exact integer arithmetic an external oracle
        replays bit-for-bit — no sampled range boundaries), NULL keys
        park in bucket 0, content-preserving (the write IS a DV-applying
        read of the current version), concurrency-safe via
        ``expected_version``. Both columns must be losslessly
        BIGINT-castable and their scaled spans must not overflow the
        interleave arithmetic (raises otherwise). Uses
        ``operators/maintenance.py``'s interleave expression — the same
        bits as the standalone ``q_zorder_layout`` operator, now owning
        the storage layout."""
        from pyspark.sql import functions as F

        from mapreduceindexer_spark.operators.maintenance import (
            ZORDER_BITS,
            zorder_interleave,
        )

        if not (1 <= n_bucket_bits <= 2 * ZORDER_BITS):
            raise ValueError(
                f"n_bucket_bits must be in [1, {2 * ZORDER_BITS}], "
                f"got {n_bucket_bits}"
            )
        cur = self.current_version()
        if cur == 0:
            raise ValueError(
                "nothing to compact: table has no committed version"
            )
        df = self.read(spark, cur)
        if "_zbucket" in df.columns:
            raise ValueError(
                "table has a column named _zbucket, which the z-ordered "
                "write uses as its partition key; rename it first"
            )
        aggs = []
        for c in (col_x, col_y):
            # min/max AFTER the cast: min-then-cast on a digit-string
            # column would take the LEXICOGRAPHIC extreme ('10' < '9')
            # and silently break the grid (review finding).
            aggs += [
                F.min(F.col(c).cast("bigint")).alias(f"_{c}_lo"),
                F.max(F.col(c).cast("bigint")).alias(f"_{c}_hi"),
                F.count(c).alias(f"_{c}_n"),
                F.count(F.col(c).cast("bigint")).alias(f"_{c}_ncast"),
            ]
        b = df.agg(*aggs).collect()[0]
        top = (1 << ZORDER_BITS) - 1
        scaled = {}
        for c in (col_x, col_y):
            lo, hi = b[f"_{c}_lo"], b[f"_{c}_hi"]
            if b[f"_{c}_ncast"] < b[f"_{c}_n"]:
                raise ValueError(
                    f"cannot z-order on {c!r}: "
                    f"{b[f'_{c}_n'] - b[f'_{c}_ncast']} values are not "
                    "BIGINT-castable"
                )
            if lo is None:
                raise ValueError(f"cannot z-order on {c!r}: no non-NULL values")
            span = hi - lo
            # The scale multiply runs in BIGINT on the executors: it
            # must not wrap (same guard family as compact_clustered).
            if span * top >= 2**63:
                raise ValueError(
                    f"cannot z-order on {c!r}: span {span} times the "
                    f"{ZORDER_BITS}-bit grid overflows BIGINT; z-order a "
                    "narrower derived key instead"
                )
            if span > 0:
                scaled[c] = F.expr(
                    f"CAST((CAST({c} AS BIGINT) - {lo}) * {top} "
                    f"DIV {span} AS BIGINT)"
                )
            else:  # degenerate single-value domain
                scaled[c] = F.lit(0).cast("bigint")
        z = zorder_interleave(scaled[col_x], scaled[col_y], ZORDER_BITS)
        bucket = F.coalesce(
            F.shiftrightunsigned(z, 2 * ZORDER_BITS - n_bucket_bits),
            F.lit(0),  # NULL in either key: park in bucket 0
        )
        snap = os.path.join(self.path, f"snap-{uuid.uuid4().hex[:12]}")
        # One shuffle on the bucket key before the partitioned write:
        # without it every input task writes a sliver into every bucket
        # sub-dir (tasks x buckets small files — measured 5x slower at
        # 64 buckets); with it each bucket is one task's one file. A
        # degenerate z distribution serializes on its hot bucket — the
        # usual maintenance-op trade, same as compact's coalesce.
        df.withColumn("_zbucket", bucket).repartition(
            F.col("_zbucket")
        ).write.mode("error").partitionBy("_zbucket").parquet(snap)
        fsync_tree(snap)
        fsync_path(self.path)
        base = os.path.basename(snap)
        subdirs = sorted(
            f"{base}/{d}"
            for d in os.listdir(snap)
            if d.startswith("_zbucket=")
        )
        # Per-bucket stats on BOTH z dimensions (plus any caller extras)
        # in one grouped pass — these extents are what make the layout
        # prunable on either axis.
        all_stats = list(
            dict.fromkeys([col_x, col_y, *(stats_cols or ())])
        )
        stats = _grouped_subdir_stats(
            spark, snap, "_zbucket", all_stats, bloom_cols
        )
        payload = _successor(
            self._manifest(cur),
            cur + 1,
            "overwrite",
            [],
            {d: stats.get(d) for d in subdirs},
            {
                "zordered_from": cur,
                "zorder_cols": [col_x, col_y],
                "n_buckets": len(subdirs),
            },
        )
        return self._publish_manifest(payload, cur + 1, [snap])

    # -- partition-level replace --------------------------------------------

    _PART = "_part"  # reserved partition-key column in sub-dir names

    @staticmethod
    def _parse_transform(transform: str | None) -> tuple[str, int | None, str]:
        """Normalize a partition-transform spec string -> (kind, param,
        canonical string). Supported (the Iceberg transform family):
        ``identity`` (default), ``day``/``month`` over date or timestamp
        columns, ``truncate[W]`` over integers, ``bucket[N]`` via the
        portable 60-bit hash (so a bucket decision is replayable driver-
        side and in the DuckDB oracle, like the Bloom bits)."""
        if transform is None or transform == "identity":
            return "identity", None, "identity"
        if transform in ("day", "month"):
            return transform, None, transform
        m = re.fullmatch(r"(bucket|truncate)\[(\d+)\]", transform)
        if m:
            param = int(m.group(2))
            if param < 1:
                raise ValueError(f"{m.group(1)} width must be >= 1")
            return m.group(1), param, f"{m.group(1)}[{param}]"
        raise ValueError(
            f"unknown partition transform {transform!r}; supported: "
            "identity, day, month, truncate[W], bucket[N]"
        )

    @staticmethod
    def _transform_key_expr(col: str, kind: str, param: int | None):
        """The Spark expression producing a row's BIGINT partition key
        under one transform — hidden partitioning's write side. The
        driver-side twin is ``_transform_key_py``; the two MUST agree
        (pinned by tests) or layout pruning would be unsound."""
        from pyspark.sql import functions as F

        c = F.col(col)
        if kind == "identity":
            return c.cast("bigint")
        if kind == "day":
            return F.datediff(c.cast("date"), F.lit("1970-01-01")).cast(
                "bigint"
            )
        if kind == "month":
            return ((F.year(c) - 1970) * 12 + F.month(c) - 1).cast("bigint")
        if kind == "truncate":
            b = c.cast("bigint")
            return (b - F.pmod(b, F.lit(param))).cast("bigint")
        if kind == "bucket":
            from mapreduceindexer_spark.functions.hashing import hash60

            return F.pmod(hash60(c.cast("string")), F.lit(param)).cast(
                "bigint"
            )
        raise ValueError(f"unknown transform kind {kind!r}")

    @staticmethod
    def _transform_key_py(v, kind: str, param: int | None) -> int | None:
        """Driver-side twin of ``_transform_key_expr`` for predicate
        bounds: maps a SOURCE-column value to its partition key without
        a Spark job. Accepts date/datetime/ISO strings for the temporal
        transforms; ints (or int-castable) elsewhere."""
        import datetime as dt

        if v is None:
            return None
        if kind == "identity":
            return int(v)
        if kind == "truncate":
            iv = int(v)
            return iv - (iv % param)
        if kind == "bucket":
            # int/string columns only: str(v) matches Spark's string cast
            # for both (documented; temporal casts render differently).
            return hash60_py(str(v)) % param
        if kind in ("day", "month"):
            if isinstance(v, str):
                v = dt.date.fromisoformat(v[:10])
            d = v.date() if isinstance(v, dt.datetime) else v
            if kind == "day":
                return (d - dt.date(1970, 1, 1)).days
            return (d.year - 1970) * 12 + d.month - 1
        raise ValueError(f"unknown transform kind {kind!r}")

    def _dir_specs(self, manifest: dict) -> dict[str, dict] | None:
        """dir -> ``{"col", "transform"}`` for every live dir of a
        partitioned manifest. Evolved manifests record a spec list +
        per-dir index (``specs``/``dir_spec``); a single-spec manifest
        without them maps every dir to identity(partitioned_by) only
        when it records the identity transform. None when the manifest
        was not published by a partitioned commit, or when its spec
        list is missing and the layout is not provably identity (a
        writer that dropped the specs may have dropped a bucket or
        truncate transform with them)."""
        meta = manifest.get("meta", {})
        col = meta.get("partitioned_by")
        if col is None:
            return None
        specs = manifest.get("specs")
        if specs:
            ds = manifest.get("dir_spec", {})
            return {d: specs[ds[d]] for d in manifest["dirs"] if d in ds}
        if meta.get("partition_transform") != "identity":
            return None
        return {
            d: {"col": col, "transform": "identity"} for d in manifest["dirs"]
        }

    def _dir_key(self, d: str) -> int | None:
        """The partition key encoded in a sub-dir name (None for the
        Hive default/NULL partition)."""
        suffix = d.rsplit(f"{self._PART}=", 1)[1]
        return None if suffix == "__HIVE_DEFAULT_PARTITION__" else int(suffix)

    @staticmethod
    def _part_suffix(v) -> str:
        """Sub-dir name fragment of one partition value (None = the
        Hive default partition Spark writes NULL keys to)."""
        if v is None:
            return "__HIVE_DEFAULT_PARTITION__"
        if isinstance(v, bool) or not isinstance(v, int):
            raise TypeError(
                f"partition value must be int or None, got {type(v).__name__}"
            )
        return str(v)

    def _write_partitioned_snap(
        self,
        spark: SparkSession,
        df: DataFrame,
        part_col: str,
        kind: str = "identity",
        param: int | None = None,
    ) -> tuple[str, list[str]]:
        """Write ``df`` as one snapshot dir of ``{_PART}=<v>`` sub-dirs
        keyed by ``transform(part_col)`` (identity by default — hidden
        partitioning keys the LAYOUT by the transform while the data
        files keep the original column, so readers see the full schema
        without partition-column reconstruction). Returns (snap path,
        sorted sub-dir names). The key must be non-NULL wherever the
        source column is (a lossy cast / unparseable temporal would
        scatter a key across sub-dirs); source NULLs land in the Hive
        default partition."""
        from pyspark.sql import functions as F

        if self._PART in df.columns:
            raise ValueError(
                f"table has a column named {self._PART}, which the "
                "partitioned write uses as its partition key; rename it"
            )
        if part_col not in df.columns:
            raise ValueError(f"partition column {part_col!r} not in schema")
        key = self._transform_key_expr(part_col, kind, param)
        # The lossy-key guard is OBSERVED during the write instead of
        # paying its own full scan first (optimization round 12, guide
        # §1.2): count(part_col) vs count(key) ride the write action as
        # metrics. A violation is detected before the manifest ever
        # references the dir — the freshly written snap is removed and
        # the same ValueError raised, so no reader can observe the
        # difference (pinned by the existing lossy-key tests).
        from pyspark.sql import Observation

        obs = Observation()
        snap = os.path.join(self.path, f"snap-{uuid.uuid4().hex[:12]}")
        # Cluster by the partition key BEFORE partitionBy (Iceberg's
        # write.distribution-mode=hash; guide §6): without the shuffle
        # every input task writes a sliver into every sub-dir —
        # tasks × keys files (measured 240 parquet files for 30 day
        # sub-dirs on the sf0.1 events table, vs 30 after; the same
        # fanout compact_clustered fixed in round 9, measured 2.5x
        # there). At 100 TB this is the many-small-files problem at
        # its source; AQE coalesces the pre-write exchange, and a
        # giant single partition value is no worse than before (it
        # was already one sub-dir of slivers).
        df.withColumn(self._PART, key).observe(
            obs,
            F.count(part_col).alias("n_keyed"),
            F.count(self._PART).alias("n_cast"),
        ).repartition(F.col(self._PART)).write.mode("error").partitionBy(
            self._PART
        ).parquet(snap)
        try:
            b = obs.get
        except Exception as exc:
            # Zero-row batch under AQE: empty-relation propagation can
            # optimize the CollectMetrics node out of the write plan
            # (replace_partitions' pure-delete shape). The guard is
            # re-checked against the WRITTEN BYTES, never the source
            # plan (r12 ADVICE: an un-checkpointed non-deterministic
            # lineage could pass a source re-check while the persisted
            # files carry NULL-keyed rows): no part files proves the
            # batch was empty; a violation means non-NULL source rows
            # landed in the Hive default partition, so if that sub-dir
            # does not exist the guard holds with zero jobs, and if it
            # does, one narrow count of just that sub-dir is exact.
            global OBS_FALLBACK_NONEMPTY
            files = _snap_parquet_files(snap)
            hive = os.path.join(
                snap, f"{self._PART}=__HIVE_DEFAULT_PARTITION__"
            )
            if not files:
                b = {"n_keyed": 0, "n_cast": 0}
            else:
                OBS_FALLBACK_NONEMPTY += 1
                _log.warning(
                    "lossy-key-guard fallback on a NON-empty partitioned "
                    "write: %s: %s — re-checking the written files",
                    type(exc).__name__,
                    exc,
                )
                if not os.path.isdir(hive):
                    b = {"n_keyed": 0, "n_cast": 0}
                else:
                    n_bad = (
                        spark.read.parquet(hive)
                        .where(F.col(part_col).isNotNull())
                        .count()
                    )
                    b = {"n_keyed": n_bad, "n_cast": 0}
        if b["n_cast"] < b["n_keyed"]:
            shutil.rmtree(snap, ignore_errors=True)
            raise ValueError(
                f"cannot partition on {kind}({part_col!r}): "
                f"{b['n_keyed'] - b['n_cast']} values produce NULL keys "
                "— a lossy key would scatter rows across sub-dirs"
            )
        fsync_tree(snap)
        fsync_path(self.path)
        base = os.path.basename(snap)
        subdirs = sorted(
            f"{base}/{d}"
            for d in os.listdir(snap)
            if d.startswith(f"{self._PART}=")
        )
        return snap, subdirs

    def commit_partitioned(
        self,
        spark: SparkSession,
        df: DataFrame,
        part_col: str,
        mode: str = "overwrite",
        expected_version: int | None = None,
        meta: dict | None = None,
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
        transform: str | None = None,
        evolve: bool = False,
    ) -> int:
        """Publish ``df`` PARTITIONED by ``transform(part_col)``: one
        sub-dir per key value, each its own manifest dir with its own
        stats — the layout ``replace_partitions`` needs to rewrite
        O(delta) partitions instead of the whole table. ``transform``
        (identity | day | month | truncate[W] | bucket[N]) is HIDDEN
        partitioning: the layout is keyed by a derived value while
        queries keep predicating on the source column —
        ``plan`` maps source-column bounds
        to key bounds and skip whole sub-dirs, no derived column in the
        data or the query. NULL source keys land in the Hive default
        partition sub-dir (they are data, not an error).

        PARTITION EVOLUTION: an append whose (column, transform) spec
        differs from the table's current spec requires ``evolve=True``
        and starts a NEW spec without rewriting a byte of historic
        data — the manifest records a spec list plus a per-dir spec
        index (the Iceberg spec-id design), reads union the layouts
        through the recorded schema, and layout pruning decides each
        dir under ITS OWN spec. Old data keeps its old layout until
        ``rewrite_partitioned`` unifies it. Returns the new version."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        kind, param, canon = self._parse_transform(transform)
        spec = {"col": part_col, "transform": canon}
        base_v, cur_m = self._head(expected_version)
        prev_m = cur_m if mode == "append" else None
        schema_json = _evolve_schema(
            prev_m.get("schema") if prev_m else None, df.schema
        )
        props = _carried_props(cur_m)
        if props.get("unique"):
            # Pin before validate-then-write (see commit()): an
            # unpinned non-deterministic batch could pass the probe
            # and persist different rows.
            df = df.localCheckpoint(eager=True)
        _validate_constraints(
            df,
            props.get("constraints", {}),
            f"commit to v{base_v + 1}",
            schema_json,
        )
        if props.get("unique"):
            # UNIQUE keys gate the partitioned ingest path exactly like
            # the plain one — a layout choice must not weaken a key.
            self._validate_unique(df, props["unique"], prev_m)
        snap, subdirs = self._write_partitioned_snap(
            spark, df, part_col, kind, param
        )
        stats = _grouped_subdir_stats(
            spark, snap, self._PART, stats_cols, bloom_cols
        )
        kept: list[str] = []
        if prev_m is not None:
            prev = prev_m
            prev_dir_specs = self._dir_specs(prev)
            if prev_dir_specs is None:
                shutil.rmtree(snap, ignore_errors=True)
                raise ValueError(
                    "append requires the current version to be "
                    "partitioned (published by commit_partitioned/"
                    "replace_partitions)"
                )
            prev_spec = {
                "col": prev.get("meta", {}).get("partitioned_by"),
                "transform": prev.get("meta", {}).get(
                    "partition_transform", "identity"
                ),
            }
            if spec != prev_spec and not evolve:
                shutil.rmtree(snap, ignore_errors=True)
                raise ValueError(
                    f"append spec {canon}({part_col!r}) differs from the "
                    f"current spec {prev_spec['transform']}"
                    f"({prev_spec['col']!r}); pass evolve=True to start a "
                    "new partition spec (partition evolution)"
                )
            kept = prev["dirs"]
            specs, dir_spec = self._extend_specs(
                prev_dir_specs, spec, subdirs
            )
        else:
            specs, dir_spec = [spec], {d: 0 for d in subdirs}
        payload = _successor(
            cur_m,
            base_v + 1,
            mode,
            kept,
            {d: stats.get(d) for d in subdirs},
            meta,
            schema=schema_json,
            layout={
                "partitioned_by": part_col,
                "partition_transform": canon,
                "specs": specs,
                "dir_spec": dir_spec,
            },
        )
        return self._publish_manifest(payload, base_v + 1, [snap])

    @staticmethod
    def _extend_specs(
        prev_dir_specs: dict[str, dict], new_spec: dict, new_dirs
    ) -> tuple[list[dict], dict[str, int]]:
        """Fold the previous dirs' specs plus ``new_spec`` for
        ``new_dirs`` into a deduplicated spec list + per-dir index —
        the compact encoding an evolved manifest carries."""
        specs: list[dict] = []
        dir_spec: dict[str, int] = {}

        def idx_of(s: dict) -> int:
            for i, e in enumerate(specs):
                if e == s:
                    return i
            specs.append(s)
            return len(specs) - 1

        for d, s in prev_dir_specs.items():
            dir_spec[d] = idx_of(s)
        ni = idx_of(new_spec)
        for d in new_dirs:
            dir_spec[d] = ni
        return specs, dir_spec

    def replace_partitions(
        self,
        spark: SparkSession,
        updates: DataFrame,
        parts,
        expected_version: int | None = None,
        meta: dict | None = None,
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
    ) -> int:
        """PARTITION-LEVEL REPLACE, the O(delta) write path every table
        format grows once streams append forever: the sub-dirs of the
        partition values in ``parts`` (ints, or None for the NULL
        partition) are replaced by ``updates``' rows; every other
        partition's sub-dirs are carried into the new manifest
        UNTOUCHED — zero read, zero write, stats inherited. A value in
        ``parts`` with no rows in ``updates`` is dropped (partition
        delete). Rows of ``updates`` OUTSIDE ``parts`` raise — a silent
        write outside the declared replace set is how incremental
        maintainers corrupt state. The current version must have been
        published by ``commit_partitioned``/``replace_partitions`` (the
        manifest records its partition column). Optimistic concurrency
        via ``expected_version`` as everywhere."""
        from pyspark.sql import functions as F

        cur, manifest = self._head(expected_version)
        if manifest is None:
            raise ValueError(
                "replace_partitions needs a committed partitioned table; "
                "use commit_partitioned first"
            )
        part_col = manifest.get("meta", {}).get("partitioned_by")
        if part_col is None:
            raise ValueError(
                f"version {cur} was not published by commit_partitioned; "
                "replace_partitions needs the partitioned layout"
            )
        canon = manifest.get("meta", {}).get("partition_transform", "identity")
        dir_specs = self._dir_specs(manifest)
        if dir_specs is None:
            raise ValueError(
                f"version {cur} does not record its partition transform; "
                "run rewrite_partitioned() to re-key the layout first"
            )
        live_specs = {json.dumps(s, sort_keys=True) for s in dir_specs.values()}
        if len(live_specs) > 1:
            # A replaced key value could have matching rows hiding in
            # old-spec dirs the new key space cannot address — replacing
            # "partition 5" would silently leave stale twins behind.
            raise ValueError(
                "replace_partitions on a spec-evolved table is ambiguous "
                f"({len(live_specs)} live partition specs); run "
                "rewrite_partitioned() to unify the layout first"
            )
        kind, kparam, _ = self._parse_transform(canon)
        suffixes = {self._part_suffix(v) for v in parts}
        if not suffixes:
            raise ValueError("replace_partitions needs at least one partition")
        schema_json = _evolve_schema(manifest.get("schema"), updates.schema)
        # Pin updates before the three consumers (validation agg, write,
        # stats pass) — the merge_rows determinism discipline.
        updates = updates.localCheckpoint(eager=True)
        _validate_constraints(
            updates,
            _carried_props(manifest).get("constraints", {}),
            "replace_partitions update batch",
            schema_json,
        )
        int_parts = [v for v in parts if v is not None]
        key = self._transform_key_expr(part_col, kind, kparam)
        in_set = key.isin(int_parts)
        if any(v is None for v in parts):
            in_set = in_set | F.col(part_col).isNull()
        n_outside = updates.filter(~F.coalesce(in_set, F.lit(False))).count()
        if n_outside:
            raise ValueError(
                f"{n_outside} update rows fall outside the declared "
                f"replace set {sorted(suffixes)}; widen `parts` or fix "
                "the updates — writing them silently would corrupt the "
                "untouched partitions' contract"
            )
        def suffix_of(d: str) -> str:
            return d.rsplit(f"{self._PART}=", 1)[1]

        uniq = _carried_props(manifest).get("unique", [])
        if uniq:
            # The replacement batch must be key-clean AND clash-free
            # against the SURVIVING dirs only (the replaced dirs die
            # with this commit, so their keys are reusable).
            surviving = {
                **manifest,
                "dirs": [
                    d for d in manifest["dirs"] if suffix_of(d) not in suffixes
                ],
            }
            self._validate_unique(
                updates, uniq, surviving if surviving["dirs"] else None
            )
        snap, subdirs = self._write_partitioned_snap(
            spark, updates, part_col, kind, kparam
        )
        if not subdirs:
            # Pure partition delete: no rows -> Spark wrote no sub-dirs
            # (just a _SUCCESS marker); drop the empty husk and publish
            # a kept-only manifest.
            shutil.rmtree(snap, ignore_errors=True)
            snap_cleanup: list[str] = []
            new_stats: dict = {}
        else:
            snap_cleanup = [snap]
            new_stats = _grouped_subdir_stats(
                spark, snap, self._PART, stats_cols, bloom_cols
            )

        kept = [d for d in manifest["dirs"] if suffix_of(d) not in suffixes]
        spec = {"col": part_col, "transform": canon}
        specs, dir_spec = self._extend_specs(
            {d: dir_specs.get(d, spec) for d in kept}, spec, subdirs
        )
        # Untouched partitions keep their stats and deletes; replaced
        # partitions' deletes die with the dirs they addressed.
        payload = _successor(
            manifest,
            cur + 1,
            "replace_partitions",
            kept,
            {d: new_stats.get(d) for d in subdirs},
            {
                **(meta or {}),
                "replaced_partitions": sorted(suffixes),
                "preserved_dirs": len(kept),
            },
            schema=schema_json,
            layout={
                "partitioned_by": part_col,
                "partition_transform": canon,
                "specs": specs,
                "dir_spec": dir_spec,
            },
        )
        return self._publish_manifest(payload, cur + 1, snap_cleanup)

    def pruned_dirs_part_eq(
        self, col: str, value, version: int | None = None
    ) -> tuple[list[str], list[str]]:
        """(kept, skipped) of ``plan({col: [value]}, version)``. The
        term lookup ``read_eq_part`` calls it through the instance, so a
        tracer can wrap it to time the prune and count the dirs kept."""
        p = self.plan({col: [value]}, version)
        return p.kept, p.skipped

    def read_eq_part(
        self, spark: SparkSession, col: str, value, version: int | None = None
    ) -> DataFrame:
        """``scan`` of the rows of ``version`` with ``col = value`` over
        the dirs ``pruned_dirs_part_eq`` keeps: the term lookup of a
        bucketed postings table, served on the driver when small."""
        version = self._resolve(version)
        kept, skipped = self.pruned_dirs_part_eq(col, value, version)
        return self.scan(
            spark,
            ScanPlan(
                version, self._manifest(version), {col: [value]}, kept, skipped
            ),
        )

    def diff(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """ROW-LEVEL DIFF between two versions — every row ``added`` or
        ``removed`` going from ``from_version`` to ``to_version``
        (``_change`` column), correct across ANY commit kinds
        (rewrites, deletes, compactions — where the append-only change
        feed must refuse). The cost is the point: snapshot dirs present
        in BOTH manifests with identical deletion-vector sets
        contribute the same multiset to both sides, and multiset
        algebra gives (A+C) − (B+C) = A − B, so common dirs are pruned
        BEFORE the exceptAll — the diff scans O(changed dirs), not two
        full versions (a compaction that rewrites one slice diffs
        against that slice alone). Schema evolution is aligned to the
        TO version's schema (old rows read later-added columns as NULL,
        exactly as a time-travel read would)."""
        from pyspark.sql import functions as F

        if to_version is None:
            to_version = self.current_version()
        fm = self._manifest(from_version)
        tm = self._manifest(to_version)
        fdv, tdv = fm.get("dv", {}), tm.get("dv", {})
        feq, teq = fm.get("eq", {}), tm.get("eq", {})
        to_dirs = set(tm["dirs"])
        common = {
            d
            for d in fm["dirs"]
            if d in to_dirs
            and fdv.get(d, []) == tdv.get(d, [])
            and feq.get(d, []) == teq.get(d, [])
        }
        old_only = [d for d in fm["dirs"] if d not in common]
        new_only = [d for d in tm["dirs"] if d not in common]
        new_df = (
            self._read_dirs(spark, tm, new_only)
            if new_only
            else self.read(spark, to_version).limit(0)
        )
        cols = new_df.columns
        if old_only:
            old_df = self._read_dirs(spark, fm, old_only)
            # Align the old side to the TO schema: later-added columns
            # read as NULL (matching what time travel shows), dropped
            # columns cannot exist (evolution is add-only).
            old_df = old_df.select(
                *[
                    F.col(c) if c in old_df.columns
                    else F.lit(None).cast(dict(new_df.dtypes)[c]).alias(c)
                    for c in cols
                ]
            )
        else:
            old_df = new_df.limit(0)
        return new_df.exceptAll(old_df).withColumn(
            "_change", F.lit("added")
        ).unionByName(
            old_df.exceptAll(new_df).withColumn("_change", F.lit("removed"))
        )

    def diff_dirs(
        self, from_version: int, to_version: int | None = None
    ) -> tuple[int, int, int]:
        """(old-only, new-only, common) dir counts the diff would scan
        vs skip — the metadata-plane census of ``diff``'s pruning."""
        if to_version is None:
            to_version = self.current_version()
        fm = self._manifest(from_version)
        tm = self._manifest(to_version)
        fdv, tdv = fm.get("dv", {}), tm.get("dv", {})
        feq, teq = fm.get("eq", {}), tm.get("eq", {})
        to_dirs = set(tm["dirs"])
        common = {
            d
            for d in fm["dirs"]
            if d in to_dirs
            and fdv.get(d, []) == tdv.get(d, [])
            and feq.get(d, []) == teq.get(d, [])
        }
        return (
            len([d for d in fm["dirs"] if d not in common]),
            len([d for d in tm["dirs"] if d not in common]),
            len(common),
        )

    def delete_where_part(
        self,
        spark: SparkSession,
        lo=None,
        hi=None,
        expected_version: int | None = None,
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
    ) -> int:
        """PARTITION-ALIGNED range delete on the partition SOURCE
        column (``lo <= col <= hi``; either bound may be None) — the
        retention-expiry shape: every partition whose key range is
        PROVABLY inside the delete range is dropped with zero read and
        zero write (its sub-dir simply leaves the manifest), only the
        BOUNDARY partitions — those the range cuts through — are
        rewritten with their surviving rows, and everything outside is
        carried untouched. Keys strictly interior to the mapped bounds
        drop; keys AT a bound are rewritten with the residual filter —
        conservative when the bound aligns with a period edge (and for
        identity keys, where a fractional source value shares its
        truncated key), correct either way. Requires a single monotone
        spec: bucket
        layouts cannot place a range (delete by predicate instead), and
        mixed evolved layouts must be unified by
        ``rewrite_partitioned`` first (``replace_partitions``'s rule).
        At 100 TB this is the op that makes "expire everything older
        than D" a manifest write plus at most one partition rewrite,
        instead of a table-wide COW delete. Returns the new version;
        meta records (dropped, rewritten, untouched) partition
        counts."""
        from pyspark.sql import functions as F

        if lo is None and hi is None:
            raise ValueError("delete_where_part needs at least one bound")
        cur, manifest = self._head(expected_version)
        if manifest is None:
            raise ValueError("delete_where_part needs a committed table")
        dir_specs = self._dir_specs(manifest)
        if dir_specs is None:
            raise ValueError(
                "delete_where_part needs the partitioned layout; use "
                "delete_where on unpartitioned tables"
            )
        if len(dir_specs) < len(manifest["dirs"]):
            raise ValueError(
                "manifest has dirs without a recorded partition spec; "
                "a range delete cannot prove them row-free — "
                "rewrite_partitioned() first"
            )
        col = manifest["meta"]["partitioned_by"]
        canon = manifest["meta"].get("partition_transform", "identity")
        if {json.dumps(s, sort_keys=True) for s in dir_specs.values()} != {
            json.dumps(
                {"col": col, "transform": canon}, sort_keys=True
            )
        }:
            raise ValueError(
                "delete_where_part on a spec-evolved table is ambiguous; "
                "run rewrite_partitioned() to unify the layout first"
            )
        kind, param, _ = self._parse_transform(canon)
        if kind == "bucket":
            raise ValueError(
                "bucket layouts cannot place a range; use delete_where"
            )
        t_lo = self._transform_key_py(lo, kind, param)
        t_hi = self._transform_key_py(hi, kind, param)
        interior, boundary = [], []
        for d in manifest["dirs"]:
            k = self._dir_key(d)
            if k is None:  # NULL partition: range predicates never match
                continue
            if (t_lo is not None and k < t_lo) or (
                t_hi is not None and k > t_hi
            ):
                continue  # outside: carried untouched
            at_bound = (t_lo is not None and k == t_lo) or (
                t_hi is not None and k == t_hi
            )
            if at_bound:
                # The bound cuts (or may cut) through this key's value
                # range — rewrite with the residual filter. Conservative
                # for aligned bounds and for exactly-integral identity
                # keys; a fractional source value shares its truncated
                # key, so even identity cannot prove bound keys covered.
                boundary.append((d, k))
            else:
                interior.append(k)  # strictly inside: provably covered
        if not interior and not boundary:
            return cur  # nothing can match: no-op, no version burned
        if boundary:
            surv = self._read_dirs(
                spark, manifest, [d for d, _ in boundary]
            )
            pred = F.lit(True)
            if lo is not None:
                pred = pred & (F.col(col) >= F.lit(lo))
            if hi is not None:
                pred = pred & (F.col(col) <= F.lit(hi))
            surv = surv.filter(~pred)
        else:
            surv = self.read(spark, cur).limit(0)
        return self.replace_partitions(
            spark,
            surv,
            interior + [k for _, k in boundary],
            expected_version=cur,
            meta={
                "deleted_range": [_json_stat(lo), _json_stat(hi)],
                "dropped_partitions": len(interior),
                "rewritten_partitions": len(boundary),
                "untouched_partitions": len(manifest["dirs"])
                - len(interior)
                - len(boundary),
            },
            stats_cols=stats_cols,
            bloom_cols=bloom_cols,
        )

    def rewrite_partitioned(
        self,
        spark: SparkSession,
        part_col: str | None = None,
        transform: str | None = None,
        expected_version: int | None = None,
        stats_cols: tuple[str, ...] | list[str] | None = None,
        bloom_cols: tuple[str, ...] | list[str] | None = None,
    ) -> int:
        """Rewrite the CURRENT rows under ONE partition spec (default:
        the table's latest spec) — the maintenance op that retires a
        spec evolution's mixed layout so ``replace_partitions`` is
        addressable again. This is the only evolution step that touches
        data, it is explicitly scheduled (like compaction), and it
        costs one full read + partitioned write; the evolution itself
        (``commit_partitioned(evolve=True)``) stays metadata-only.
        Optimistic concurrency via ``expected_version``."""
        cur, manifest = self._head(expected_version)
        if manifest is None:
            raise ValueError("rewrite_partitioned needs a committed table")
        meta = manifest.get("meta", {})
        if part_col is None:
            part_col = meta.get("partitioned_by")
            if part_col is None:
                raise ValueError(
                    "table has no current partition spec; pass part_col"
                )
            if transform is None:
                transform = meta.get("partition_transform", "identity")
        return self.commit_partitioned(
            spark,
            self.read(spark, cur),
            part_col,
            mode="overwrite",
            expected_version=cur,
            meta={"rewritten_from": cur},
            stats_cols=stats_cols,
            bloom_cols=bloom_cols,
            transform=transform,
        )

    def history(self, spark: SparkSession) -> DataFrame:
        """DESCRIBE HISTORY: one row per live version — (version, mode,
        committed_at, n_dirs, n_rows, n_constraints, has_dv, meta JSON)
        — assembled from manifests alone (n_rows via ``fast_count``,
        NULL where stats-less history makes it unknowable). The audit
        surface every table format exposes; retention-trimmed versions
        simply don't appear."""
        import json as _json

        rows = []
        for v in self.versions():
            m = self._manifest(v)
            rows.append(
                (
                    v,
                    m.get("mode"),
                    m.get("committed_at"),
                    len(m["dirs"]),
                    self._fast_count_m(m),  # reuse this parse (O(V), not O(V^2))
                    len(m.get("constraints", {})),
                    bool(m.get("dv") or m.get("eq")),
                    _json.dumps(m.get("meta", {}), sort_keys=True),
                )
            )
        return spark.createDataFrame(
            rows,
            "version bigint, mode string, committed_at double, "
            "n_dirs bigint, n_rows bigint, n_constraints bigint, "
            "has_dv boolean, meta string",
        )

    def analyze(
        self,
        spark: SparkSession,
        stats_cols: tuple[str, ...] | list[str],
        bloom_cols: tuple[str, ...] | list[str] | None = None,
    ) -> int:
        """ANALYZE: backfill data-skipping statistics for dirs that were
        committed WITHOUT them — reads ONLY the stats-less dirs (one
        narrow aggregate each; dirs that already carry stats are never
        rescanned) and publishes a metadata-only version: same dir
        list, same deletion vectors, enriched stats map. The repair
        action for mixed stats-less history (the maintenance advisor's
        ``cluster`` rule pessimizes unknown ranges to
        overlaps-everything; after analyze, pruning uses real bounds).
        Returns the new version, or the CURRENT version unchanged if
        nothing needed backfilling (no empty commits).

        Scale: cost is proportional to the stats-less slice only — on
        a 100 TB table where one early ingest skipped stats, analyze
        scans that ingest, not the table. The publish is the ordinary
        manifest CAS; concurrent commits conflict-and-retry like any
        writer."""
        cur = self.current_version()
        if cur == 0:
            raise ValueError("cannot analyze an empty table")
        if not stats_cols:
            # An empty column list could never satisfy the missing
            # predicate, so each call would mint a new do-nothing
            # version forever — refuse instead of looping.
            raise ValueError("analyze needs at least one stats column")
        m = self._manifest(cur)
        stats = dict(m.get("stats", {}))
        want_bloom = list(bloom_cols) if bloom_cols else []
        missing = [
            d
            for d in m["dirs"]
            if "rows" not in stats.get(d, {})
            or any(c not in stats[d].get("cols", {}) for c in stats_cols)
            or any(
                c not in stats[d].get("bloom", {}) for c in want_bloom
            )
        ]
        if not missing:
            return cur
        for d in missing:
            entry = _snapshot_entry(
                spark, os.path.join(self.path, d), list(stats_cols), want_bloom
            )
            prev = stats.get(d, {})
            merged = {**prev, **entry}
            if "cols" in prev or "cols" in entry:
                merged["cols"] = {
                    **prev.get("cols", {}),
                    **entry.get("cols", {}),
                }
            if "bloom" in prev or "bloom" in entry:
                merged["bloom"] = {
                    **prev.get("bloom", {}),
                    **entry.get("bloom", {}),
                }
            stats[d] = merged
        payload = {
            **m,
            "version": cur + 1,
            "mode": "analyze",
            "stats": stats,
            "meta": {
                **m.get("meta", {}),
                "analyzed_dirs": len(missing),
            },
        }
        return self._publish_manifest(payload, cur + 1, [])

    def maintenance_plan(
        self,
        stats_col: str,
        keep_versions: int = 1,
        max_dirs: int = 8,
        dv_permille: int = 50,
    ) -> list[dict]:
        """MAINTENANCE ADVISOR: inspect the current manifest and return
        the actions a table caretaker would schedule, each with the
        metric that triggered (or didn't trigger) it — the decision
        layer behind Delta OPTIMIZE / Iceberg maintenance, O(manifest)
        and ZERO data reads (dv row totals come from parquet FOOTERS of
        the tiny vector files). Four rules:

        - ``compact``: the dir count exceeds ``max_dirs`` — small-file
          proliferation makes every scan pay per-dir open costs.
        - ``cluster``: dirs' recorded [min, max] ranges on ``stats_col``
          OVERLAP (metric = overlapping pairs; dirs without stats count
          as overlapping everything) — an unclustered layout defeats
          range pruning; ``compact_clustered``/``compact_zordered``
          restores it.
        - ``materialize_dv``: deletion-vector positions exceed
          ``dv_permille``/1000 of the stats-counted rows — merge-on-read
          debt has grown past the point where every read's anti-join
          costs more than one rewrite (``compact`` materializes).
        - ``vacuum``: versions older than the ``keep_versions`` window
          exist — retired snapshots hold reclaimable space.

        Returns one dict per rule: {action, metric, threshold,
        triggered}, deterministic from the manifest alone so the
        catalog oracle replays every decision as arithmetic.
        """
        cur = self.current_version()
        if cur == 0:
            raise ValueError("cannot plan maintenance for an empty table")
        m = self._manifest(cur)
        dirs = m["dirs"]
        stats = m.get("stats", {})

        def _range(d):
            cols = stats.get(d, {}).get("cols", {})
            return cols.get(stats_col)  # None = unknown → overlaps all

        overlap_pairs = 0
        for i in range(len(dirs)):
            for j in range(i + 1, len(dirs)):
                a, b = _range(dirs[i]), _range(dirs[j])
                if a is None or b is None or (a[0] <= b[1] and b[0] <= a[1]):
                    overlap_pairs += 1

        import pyarrow.parquet as pq

        def _footer_rows(dirname: str) -> int:
            d = os.path.join(self.path, dirname)
            if not os.path.isdir(d):
                return 0
            return sum(
                pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                for f in sorted(os.listdir(d))
                if f.endswith(".parquet")
            )

        # Denominator = rows across ALL live dirs: recorded stats where
        # present, parquet-footer counts for stats-less dirs (footers
        # are already being read for the DV files — still zero DATA
        # reads). Summing stats-carrying dirs only would overstate the
        # permille on mixed-history tables (spurious trigger), and a
        # fully stats-less table would report 0 even with DV debt
        # (r9 advice).
        total_rows = sum(
            stats[d]["rows"]
            if d in stats and "rows" in stats[d]
            else _footer_rows(d)
            for d in dirs
        )
        # A dir's vectors are listed per dir — the same vector name can
        # appear under several dirs; count each vector file once.
        seen = set()
        dv_rows = 0

        # Equality-delete files carry the same merge-on-read debt
        # semantics (each row is a deleted key — an upper bound on dead
        # base rows per registered dir), so they feed the same
        # compaction trigger; like vectors, each file counts once. On
        # a table mixing both mechanisms the same dead row can be
        # counted in an eq file AND a later vector (position scans
        # don't resolve eq-dead rows), so the debt metric is an upper
        # bound there — conservative in the safe direction (compaction
        # triggers earlier, never later).
        for aux in ("dv", "eq"):
            for names in m.get(aux, {}).values():
                for name in names:
                    if name in seen:
                        continue
                    seen.add(name)
                    d = os.path.join(self.path, name)
                    if not os.path.isdir(d):
                        continue
                    for f in sorted(os.listdir(d)):
                        if f.endswith(".parquet"):
                            dv_rows += pq.ParquetFile(
                                os.path.join(d, f)
                            ).metadata.num_rows
        dv_actual_permille = (
            (dv_rows * 1000) // total_rows if total_rows else 0
        )
        retirable = max(0, len(self.versions()) - keep_versions)
        return [
            {
                "action": "compact",
                "metric": len(dirs),
                "threshold": max_dirs,
                "triggered": len(dirs) > max_dirs,
            },
            {
                "action": "cluster",
                "metric": overlap_pairs,
                "threshold": 0,
                "triggered": overlap_pairs > 0,
            },
            {
                "action": "materialize_dv",
                "metric": dv_actual_permille,
                "threshold": dv_permille,
                "triggered": dv_actual_permille > dv_permille,
            },
            {
                "action": "vacuum",
                "metric": retirable,
                "threshold": 0,
                "triggered": retirable > 0,
            },
        ]

    # -- metadata-only aggregates (stats pushdown) ----------------------------

    def fast_count(self, version: int | None = None) -> int | None:
        """COUNT(*) answered from MANIFEST METADATA alone — zero data
        reads, zero Spark jobs: the sum of per-dir stats row counts,
        minus the vector-deleted rows. Returns None when any dir lacks
        stats (the count is unknowable without a scan — mixed
        stats-less history is legal) or a vector is too large to
        enumerate cheaply; callers fall back to ``read().count()``.
        This is the aggregate pushdown every table format serves
        COUNT(*) from; at 100 TB it is the difference between a
        catalog lookup and a full scan."""
        version = self._resolve(version)
        return self._fast_count_m(self._manifest(version))

    def _fast_count_m(self, manifest: dict) -> int | None:
        """``fast_count`` over an already-parsed manifest (``history``
        reuses its parse). The vector subtraction is PER (dir, vector):
        a vector written against dirs later rewritten keeps those
        positions in its file, but the manifest no longer registers it
        on the rewritten dir — subtracting the whole footer count
        would undercount (review finding). Positions are unique across
        a version's vectors by construction (``delete_where_dv``
        excludes prior vectors), so the per-dir sums are exact."""
        if manifest.get("eq"):
            # How many base rows an equality-delete file kills per dir
            # is unknowable without reading data (it deletes by KEY);
            # fall back to the counting scan.
            return None
        stats = manifest.get("stats", {})
        total = 0
        for d in manifest["dirs"]:
            rows = stats.get(d, {}).get("rows")
            if rows is None:
                return None
            total += rows
        for d, names in manifest.get("dv", {}).items():
            for n in names:
                hist = self._dv_dir_rows(n)
                if hist is None:
                    return None  # vector too big to enumerate cheaply
                total -= hist.get(d, 0)
        return total

    def _dv_dir_rows(self, dv_name: str) -> dict[str, int] | None:
        """{registered dir: deleted-position count} of one deletion
        vector, from a driver-side read of its (tiny, immutable)
        parquet — memoized. A position's dir is the prefix of its
        rel_path that the manifest's dv map keys use (the top snap dir,
        or the clustered/partitioned sub-dir). None when the vector
        exceeds the cheap-enumeration bound."""
        if dv_name in self._dv_rows_cache:
            return self._dv_rows_cache[dv_name]
        import pyarrow.parquet as pq

        d = os.path.join(self.path, dv_name)
        parts = [
            os.path.join(d, f)
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        ]
        total = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        out: dict[str, int] | None
        if total > 100_000:
            out = None
        else:
            out = {}
            for p in parts:
                col = pq.read_table(p, columns=["_dv_rel_path"])
                for v in col.column(0).to_pylist():
                    # rel_path is "snap-x/file" or "snap-x/sub=k/file";
                    # the dv map keys are the path minus the filename.
                    out[v.rsplit("/", 1)[0]] = out.get(
                        v.rsplit("/", 1)[0], 0
                    ) + 1
        self._dv_rows_cache[dv_name] = out
        return out

    def fast_minmax(
        self, col: str, version: int | None = None
    ) -> tuple | None:
        """(min, max) of ``col`` from manifest stats alone, or None
        when metadata cannot prove them: any dir missing stats for
        ``col``, or ANY deletion vector present (a vector may have
        deleted exactly the extreme row, so stored extents are only
        conservative bounds, not exact answers). All-NULL/empty dirs
        (stats [None, None]) are ignored, matching SQL min/max NULL
        semantics; returns (None, None) if every dir is all-NULL."""
        version = self._resolve(version)
        manifest = self._manifest(version)
        if manifest.get("dv") or manifest.get("eq"):
            # Merge-on-read deletes may have removed the extreme rows;
            # recorded stats are only an outer bound then.
            return None
        stats = manifest.get("stats", {})
        lo = hi = None
        for d in manifest["dirs"]:
            cs = stats.get(d, {}).get("cols", {}).get(col)
            if cs is None:
                return None
            cmin, cmax = cs
            if cmin is None:
                continue  # empty/all-NULL dir contributes nothing
            lo = cmin if lo is None or cmin < lo else lo
            hi = cmax if hi is None or cmax > hi else hi
        return (lo, hi)

    # -- governance: CHECK constraints & timestamp time travel ---------------

    def constraints(self, version: int | None = None) -> dict:
        """{name: sql_expr} of the CHECK constraints in force at
        ``version`` (default current); {} on an empty table."""
        if version is None:
            version = self.current_version()
        if version == 0:
            return {}
        return dict(self._manifest(version).get("constraints", {}))

    def _validate_unique(self, df: DataFrame, cols, prev_manifest) -> int:
        """Enforce UNIQUE(col) on one incoming batch: (a) the batch
        itself carries no duplicate non-NULL keys (one aggregate), and
        (b) on APPEND, no batch key already exists — probed via the
        batch's [min, max] against each committed dir's recorded range,
        so the existence check reads O(overlapping dirs), not the
        table: range-disjoint ingest (monotone ids, date-keyed loads)
        proves uniqueness from stats alone with ZERO data reads.
        SQL semantics: NULL keys are exempt (multiple NULLs allowed).
        Returns the number of dirs the existence probe had to scan —
        commit() records it in the manifest meta as the enforcement
        cost receipt. Deleted rows don't conflict: the overlap scan
        reads through the manifest's deletion vectors."""
        from pyspark.sql import functions as F

        spark = df.sparkSession
        scanned = 0
        for c in cols:
            # ONE aggregate answers both questions (optimization round
            # 12, guide §1.2 — the dup check and the [min, max] probe
            # bounds used to be two separate scans of the batch): the
            # grouped key relation yields max(per-key count) for the
            # duplicate test and min/max over the distinct keys, which
            # equal min/max over all rows (min/max ignore multiplicity
            # and NULLs alike).
            b = (
                df.filter(F.col(c).isNotNull())
                .groupBy(c)
                .count()
                .agg(
                    F.max("count").alias("mx"),
                    F.min(c).alias("lo"),
                    F.max(c).alias("hi"),
                )
                .collect()[0]
            )
            if (b["mx"] or 0) > 1:
                raise ValueError(
                    f"batch violates UNIQUE({c}): duplicate keys inside "
                    "the batch"
                )
            if prev_manifest is None:
                continue  # overwrite: the batch IS the new table
            if b["lo"] is None:
                continue  # all keys NULL: exempt
            kept, _ = self._prune(prev_manifest, {c: (b["lo"], b["hi"])})
            scanned += len(kept)
            if not kept:
                continue
            existing = self._read_dirs(spark, prev_manifest, kept).select(c)
            clash = (
                existing.join(df.select(c).distinct(), c, "left_semi")
                .limit(1)
                .count()
            )
            if clash:
                raise ValueError(
                    f"append violates UNIQUE({c}): at least one batch key "
                    "is already present in the table"
                )
        return scanned

    def add_unique(self, spark: SparkSession, col: str) -> int:
        """Record a UNIQUE key on ``col`` and return the new
        (metadata-only) version — the primary-key enforcement most
        lakehouse formats skip (Delta/Iceberg PKs are informational).
        Existing data is validated first (one aggregate over the
        table); from then on every ``commit`` enforces the key via
        ``_validate_unique``'s range-pruned existence probe. Enforcement
        hooks the ingest path (``commit``); key-aware writers
        (``merge_rows``) are upserts by construction."""
        cur = self.current_version()
        if cur == 0:
            raise ValueError(
                "add_unique needs a committed table (existing data is "
                "validated)"
            )
        from pyspark.sql import functions as F

        manifest = self._manifest(cur)
        uniq = list(manifest.get("unique", []))
        if col in uniq:
            raise ValueError(f"UNIQUE({col}) already recorded")
        dup = (
            self.read(spark, cur)
            .filter(F.col(col).isNotNull())
            .groupBy(col)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                f"existing data violates UNIQUE({col}); deduplicate first"
            )
        payload = {
            **manifest,
            "version": cur + 1,
            "mode": "set_unique",
            "unique": sorted(uniq + [col]),
            "meta": {**manifest.get("meta", {}), "unique_added": col},
        }
        return self._publish_manifest(payload, cur + 1, [])

    def drop_unique(self, col: str) -> int:
        """Release UNIQUE(col); metadata-only version."""
        cur = self.current_version()
        if cur == 0:
            raise ValueError("empty table")
        manifest = self._manifest(cur)
        uniq = list(manifest.get("unique", []))
        if col not in uniq:
            raise ValueError(f"UNIQUE({col}) is not recorded")
        uniq.remove(col)
        payload = {
            **manifest,
            "version": cur + 1,
            "mode": "set_unique",
            "meta": {**manifest.get("meta", {}), "unique_dropped": col},
        }
        payload.pop("unique", None)
        if uniq:
            payload["unique"] = uniq
        return self._publish_manifest(payload, cur + 1, [])

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """Record CHECK constraint ``expr`` (a SQL boolean expression
        over the table's columns) under ``name`` and return the new
        (metadata-only) version. The EXISTING data is validated first —
        one narrow scan; a violation refuses the constraint, exactly
        like ADD CONSTRAINT on a populated SQL table. From then on
        every commit/merge/replace validates its batch against the
        recorded set before any bytes land (O(batch) per write, never
        O(table)). SQL CHECK semantics: NULL passes — spell NOT NULL
        as ``col IS NOT NULL``. Constraints are table properties: they
        survive overwrites, rewrites, and branch publishes, and time
        travel shows each version's own set."""
        import re

        if not re.match(_REF_NAME_RE, name):
            raise ValueError(f"invalid constraint name {name!r}")
        cur = self.current_version()
        if cur == 0:
            raise ValueError(
                "add_constraint needs a committed table (the expression "
                "is validated against existing data)"
            )
        manifest = self._manifest(cur)
        cons = dict(manifest.get("constraints", {}))
        if name in cons:
            raise ValueError(
                f"constraint {name!r} already exists: {cons[name]}"
            )
        _validate_constraints(
            self.read(spark, cur), {name: expr}, "existing table data"
        )
        cons[name] = expr
        payload = {
            **manifest,
            "version": cur + 1,
            "mode": "set_constraint",
            "constraints": cons,
            "meta": {
                **manifest.get("meta", {}),
                "constraint_added": name,
            },
        }
        return self._publish_manifest(payload, cur + 1, [])

    def drop_constraint(self, name: str) -> int:
        """Remove constraint ``name``; returns the new (metadata-only)
        version."""
        cur = self.current_version()
        cons = self.constraints(cur)
        if name not in cons:
            raise ValueError(f"constraint {name!r} does not exist")
        manifest = self._manifest(cur)
        del cons[name]
        payload = {
            **manifest,
            "version": cur + 1,
            "mode": "set_constraint",
            "meta": {
                **manifest.get("meta", {}),
                "constraint_dropped": name,
            },
        }
        payload.pop("constraints", None)
        if cons:
            payload["constraints"] = cons
        return self._publish_manifest(payload, cur + 1, [])

    def version_asof(self, ts) -> int:
        """The latest version committed AT OR BEFORE ``ts`` (a unix
        epoch float or a datetime) — timestamp time travel, resolved
        from the ``committed_at`` stamp every manifest carries.
        Versions whose manifest predates the stamp (older engines) are
        skipped; raises if nothing qualifies (or retention removed
        it)."""
        when = ts.timestamp() if hasattr(ts, "timestamp") else float(ts)
        best = 0
        for v in self.versions():
            at = self._manifest(v).get("committed_at")
            if at is not None and at <= when and v > best:
                best = v
        if best == 0:
            raise ValueError(
                f"no version was committed at or before {ts!r} "
                "(or retention removed it)"
            )
        return best

    def read_asof(self, spark: SparkSession, ts) -> DataFrame:
        """The table as of wall-clock ``ts`` (``version_asof``)."""
        return self.read(spark, self.version_asof(ts))

    def restore(self, version: int) -> int:
        """RESTORE the table to the data state of ``version`` as a NEW
        head version (Delta/Iceberg RESTORE semantics): one manifest
        whose dirs/stats/deletion-vectors/schema are the target's,
        published at head+1 via the same CAS every commit uses. History
        only moves FORWARD — nothing is deleted, the bad versions stay
        time-travelable for the post-mortem, and vacuum retires them by
        retention as usual (dirs the restored head references are live
        again and therefore pinned). Zero data movement at any table
        size — the rollback story for a 100 TB table is one small JSON
        manifest.

        The CURRENT table properties (CHECK constraints) are kept, not
        the target's: properties are policy, not data. A restore can
        therefore resurface rows that predate a constraint — exactly
        like SQL RESTORE semantics elsewhere, existing data is not
        re-validated; the next WRITE is still gated. Restoring to the
        current head is refused (it would burn a version changing
        nothing). Mode is ``restore``: a membership rewrite, so the
        change feed treats it as a boundary unless the restored dir
        set happens to be append-shaped — the same soundness rule
        every rewrite follows."""
        cur = self.current_version()
        if version == cur:
            raise ValueError(
                f"version {version} is already the current head"
            )
        tm = self._manifest(self._resolve(version))
        cm = self._manifest(cur)
        # The target is the predecessor: its dirs, schema, stats,
        # deletes and partition layout (which describes the restored
        # DIRS) carry. Meta is NOT carried from either side beyond
        # that: the head's meta can hold a streaming sink's batch_id
        # (carrying it would make a retried microbatch after the
        # restore no-op as "already committed"), and the target's meta
        # described a different commit.
        payload = _successor(
            tm,
            cur + 1,
            "restore",
            tm["dirs"],
            meta={"restored_from": version},
            props=_carried_props(cm),
        )
        return self._publish_manifest(payload, cur + 1, [])

    # -- branches & tags (write-audit-publish) --------------------------------

    def branch(self, name: str) -> "TransactionalTable":
        """Fork the current main version into branch ``name`` and
        return its view — the WRITE-AUDIT-PUBLISH staging pattern every
        table format grows for pipeline safety: stage commits on the
        branch (invisible to main readers), audit them (read the
        branch), then ``publish_branch`` lands the whole batch on main
        atomically or not at all. The fork is ONE manifest copy (the
        dir list — zero data copied; snapshots are shared, immutable,
        and vacuum-pinned while any branch references them); branch
        commits use the identical CAS protocol in ``_refs/<name>/``.
        Racing creators of the same branch serialize on the CAS — one
        wins, the loser gets ``CommitConflict``."""
        if self.ref is not None:
            raise ValueError("branches fork from the main view only")
        cur = self.current_version()
        if cur == 0:
            raise ValueError("cannot branch a table with no commits")
        b = TransactionalTable(self.path, ref=name)
        if b.versions():
            raise ValueError(f"branch {name!r} already exists")
        m = self._manifest(cur)
        payload = {
            **m,
            "meta": {**m.get("meta", {}), "forked_from": cur, "branch": name},
        }
        b._publish_manifest(payload, cur, [])
        return b

    def publish_branch(self, name: str) -> int:
        """Atomically land branch ``name``'s head state as the next
        MAIN version (squash-publish); returns it. Publishes only if
        main has NOT advanced past the branch's fork point — otherwise
        ``CommitConflict`` (the staged state was audited against a
        stale base; re-branch and replay). Zero data movement: the
        publish is one manifest whose dir list IS the branch head's.
        If the branch only appended (head dirs ⊇ fork dirs, deletion
        vectors unchanged), the published manifest keeps mode
        ``append`` so incremental change-feed consumers read straight
        across the publish; any rewrite/delete on the branch publishes
        as a feed boundary (``publish_branch`` mode), exactly like the
        underlying ops would on main."""
        if self.ref is not None:
            raise ValueError("publish_branch runs on the main view only")
        b = TransactionalTable(self.path, ref=name)
        bvs = b.versions()
        if not bvs:
            raise ValueError(f"branch {name!r} does not exist")
        fork, head = bvs[0], bvs[-1]
        if head == fork:
            raise ValueError(f"branch {name!r} has no commits to publish")
        cur = self.current_version()
        if cur != fork:
            raise CommitConflict(
                f"main advanced from {fork} to {cur} since branch "
                f"{name!r} forked; re-branch from the new head and "
                "replay the staged commits"
            )
        fm, hm = b._manifest(fork), b._manifest(head)
        append_only = (
            set(fm["dirs"]) <= set(hm["dirs"])
            and fm.get("dv", {}) == hm.get("dv", {})
            and fm.get("eq", {}) == hm.get("eq", {})
        )
        payload = {
            **hm,
            "version": cur + 1,
            "mode": "append" if append_only else "publish_branch",
            "meta": {
                **hm.get("meta", {}),
                "published_from_branch": name,
                "branch_head": head,
            },
        }
        return self._publish_manifest(payload, cur + 1, [])

    def drop_branch(self, name: str) -> None:
        """Delete branch ``name``'s manifest chain (abandoning or
        retiring a published stage). Data dirs only the branch
        referenced become unreferenced and age out via ``vacuum``."""
        import re

        if self.ref is not None:
            raise ValueError("drop_branch runs on the main view only")
        if not re.match(_REF_NAME_RE, name):
            raise ValueError(f"invalid ref name {name!r}")
        rd = os.path.join(self.path, "_refs", name)
        if not os.path.isdir(rd):
            raise ValueError(f"branch {name!r} does not exist")
        shutil.rmtree(rd)

    def clone_to(
        self, dest_path: str, version: int | None = None
    ) -> "TransactionalTable":
        """SHALLOW CLONE: create a brand-new table at ``dest_path``
        whose v1 manifest REFERENCES this table's data dirs at
        ``version`` (default: current head) — the Delta ``CLONE`` /
        Iceberg snapshot-ref pattern. Zero data bytes move: cloning a
        100 TB table is one manifest write. The clone then evolves
        independently — its commits write snapshots under ITS OWN root,
        invisible to the source and vice versa (unlike ``branch``,
        which shares the source's version line and publishes back).

        Mechanics: inherited dirs are recorded as ABSOLUTE paths (every
        read path resolves dirs via ``os.path.join(self.path, d)``,
        which passes absolute entries through), and the stats / Bloom /
        deletion-vector maps are re-keyed to match, so data skipping
        and merge-on-read deletes keep working across the boundary
        (DV row addresses are root-independent: ``_DV_RELPATH_RE``
        anchors on the globally-unique snap dir name). CHECK
        constraints and the recorded schema ride along. Hidden-
        partitioned layouts are refused — their pruning metadata is
        keyed by sub-dir NAME fragments; ``rewrite_partitioned`` or
        ``compact`` the source first.

        RETENTION CAVEAT (pinned by tests/test_transact.py): the
        source's ``vacuum`` retains only dirs its OWN manifests,
        branches, and tags reference — it cannot see clones. If the
        source drops the cloned version and vacuums, the clone's
        inherited dirs die with it (exactly Delta's shallow-clone
        contract). The sound patterns: ``tag`` the source version
        before cloning (tags pin vacuum forever), or localize the
        clone (``compact`` rewrites it under its own root) before
        source retention runs. A clone's own vacuum never deletes
        inherited dirs — they live outside its root.
        """
        if self.ref is not None:
            raise ValueError("clone_to runs on the main view only")
        cur = self.current_version()
        if cur == 0:
            raise ValueError("cannot clone a table with no commits")
        v = cur if version is None else version
        if v not in self.versions():
            raise ValueError(f"version {v} does not exist")
        m = self._manifest(v)
        if (
            m.get("meta", {}).get("partitioned_by")
            or m.get("dir_spec")
            or m.get("specs")
        ):
            # partitioned_by lives under meta (like every other reader
            # of it); dir_spec/specs are top-level. Checking only the
            # top level would silently admit a partitioned head whose
            # spec keys weren't recorded (a single-spec manifest), and
            # the clone would drop the layout metadata.
            raise ValueError(
                "shallow clone of hidden-partitioned layouts is not "
                "supported (pruning metadata is keyed by sub-dir name); "
                "rewrite_partitioned/compact the source first"
            )
        dest = TransactionalTable(dest_path)
        if dest.versions():
            raise ValueError(f"destination {dest_path!r} is not empty")

        def _abs(d: str) -> str:
            return d if os.path.isabs(d) else os.path.join(self.path, d)

        rekeyed = {
            **m,
            "stats": {_abs(d): s for d, s in m.get("stats", {}).items()},
            "dv": {
                _abs(d): [_abs(n) for n in names]
                for d, names in m.get("dv", {}).items()
            },
            "eq": {
                _abs(d): [_abs(n) for n in names]
                for d, names in m.get("eq", {}).items()
            },
        }
        payload = _successor(
            rekeyed,
            1,
            "overwrite",
            [_abs(d) for d in m["dirs"]],
            meta={"cloned_from": self.path, "clone_source_version": v},
        )
        os.makedirs(dest.path, exist_ok=True)
        dest._publish_manifest(payload, 1, [])
        return dest

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin ``version`` (default: current) under an immutable name —
        the reproducibility handle a training pipeline wants ("the
        corpus as of run X"): ``read_tag`` resolves it forever, and
        ``vacuum`` keeps a tagged version's manifest and data alive
        even past the retention window. Tags are immutable: re-tagging
        an existing name raises (CAS, same as manifests); ``drop_tag``
        releases the pin.

        Names containing ``__cvg_`` are RESERVED for the group
        converge-guard machinery (sources/group.py): its stale-guard
        sweeper deletes old guard files by pattern, so a user tag in
        that namespace could be silently unpinned against vacuum —
        reserve it outright instead (r11 advice)."""
        self._check_not_guard_ns(name)
        return self._tag_unreserved(name, version)

    @staticmethod
    def _check_not_guard_ns(name: str) -> None:
        if _GUARD_NS in name:
            raise ValueError(
                f"tag name {name!r} uses the reserved converge-guard "
                f"namespace ({_GUARD_NS!r}); pick another name"
            )

    def _tag_unreserved(self, name: str, version: int | None = None) -> int:
        """``tag`` minus the guard-namespace reservation — the internal
        entry point the converge-guard path itself uses."""
        import re

        if self.ref is not None:
            raise ValueError("tags pin main versions; tag from the main view")
        if not re.match(_REF_NAME_RE, name):
            raise ValueError(f"invalid ref name {name!r}")
        version = self._resolve(version)
        tags_dir = os.path.join(self.path, "_tags")
        os.makedirs(tags_dir, exist_ok=True)
        tmp = os.path.join(tags_dir, f".tmp-{uuid.uuid4().hex[:12]}.json")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"name": name, "version": version}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        final = os.path.join(tags_dir, f"{name}.json")
        try:
            os.link(tmp, final)
        except FileExistsError:
            os.unlink(tmp)
            raise ValueError(
                f"tag {name!r} already exists (tags are immutable; "
                "drop_tag first)"
            ) from None
        os.unlink(tmp)
        fsync_path(tags_dir)
        return version

    def tag_version(self, name: str) -> int:
        """The main version tag ``name`` pins. Main view only: a tag
        pins a MAIN version number, which on a branch view would
        resolve against the branch's own manifest chain — silently
        wrong data (review finding)."""
        if self.ref is not None:
            raise ValueError(
                "tags pin main versions; resolve them from the main view"
            )
        try:
            with open(
                os.path.join(self.path, "_tags", f"{name}.json"),
                encoding="utf-8",
            ) as fh:
                return json.load(fh)["version"]
        except FileNotFoundError:
            raise ValueError(f"tag {name!r} does not exist") from None

    def read_tag(self, spark: SparkSession, name: str) -> DataFrame:
        """The table as of the tagged version."""
        return self.read(spark, self.tag_version(name))

    def drop_tag(self, name: str) -> None:
        self._check_not_guard_ns(name)
        self._drop_tag_unreserved(name)

    def _drop_tag_unreserved(self, name: str) -> None:
        import re

        if not re.match(_REF_NAME_RE, name):
            raise ValueError(f"invalid ref name {name!r}")
        try:
            os.unlink(os.path.join(self.path, "_tags", f"{name}.json"))
        except FileNotFoundError:
            raise ValueError(f"tag {name!r} does not exist") from None

    # -- maintenance: vacuum ---------------------------------------------------

    def vacuum(
        self, keep_versions: int = 1, grace_seconds: float = 300.0
    ) -> list[str]:
        """Delete snapshot dirs referenced ONLY by manifests older than
        the newest ``keep_versions`` (and orphans from crashed commits,
        which no manifest references at all). Returns the deleted dirs.
        Time travel remains valid for every kept version.

        Concurrency: a snapshot written by an IN-FLIGHT commit is
        unreferenced until its manifest link lands, so vacuum skips any
        snap dir younger than ``grace_seconds`` and re-reads the
        manifest set immediately before each delete — a dir whose
        manifest landed between the initial scan and the delete is
        spared. A writer stalled longer than the grace window between
        snapshot write and manifest link can still lose its snapshot
        (and will fail loudly at read time); size the grace above the
        slowest plausible commit, as every log-structured table format
        does for its retention window."""
        if self.ref is not None:
            raise ValueError(
                "vacuum runs on the main view (it owns retention for "
                "all refs)"
            )
        vs = self.versions()
        keep = set(vs[-keep_versions:]) if vs else set()
        deleted = []
        now = time.time()
        # Branch manifests and tag files are immutable once linked, so
        # their parsed payloads are cached across the sweep like main
        # manifests.
        _ref_cache: dict[str, dict] = {}

        def _ref_tag_live() -> tuple[set[str], set[str], set[int]]:
            """(snap dirs, dv dirs, tagged main versions) pinned by
            BRANCHES and TAGS — every version of every live branch
            keeps its dirs (a staged-but-unpublished commit must
            survive retention), and a tagged main version is exempt
            from the keep window entirely (reproducibility pins)."""
            ldirs: set[str] = set()
            ldvs: set[str] = set()
            tagged: set[int] = set()
            refs_root = os.path.join(self.path, "_refs")
            if os.path.isdir(refs_root):
                for ref in os.listdir(refs_root):
                    rd = os.path.join(refs_root, ref)
                    if not os.path.isdir(rd):
                        continue
                    for mn in os.listdir(rd):
                        if not (mn.startswith("v") and mn.endswith(".json")):
                            continue
                        full = os.path.join(rd, mn)
                        m = _ref_cache.get(full)
                        if m is None:
                            try:
                                with open(full, encoding="utf-8") as fh:
                                    m = json.load(fh)
                            except (OSError, ValueError):
                                continue  # racing drop_branch
                            _ref_cache[full] = m
                        ldirs.update(m["dirs"])
                        for aux in ("dv", "eq"):
                            for names in m.get(aux, {}).values():
                                ldvs.update(names)
            tags_root = os.path.join(self.path, "_tags")
            if os.path.isdir(tags_root):
                for tn in os.listdir(tags_root):
                    if not tn.endswith(".json") or tn.startswith("."):
                        continue
                    # Tag files are NOT cached: unlike branch manifests
                    # a tag PATH is reusable (drop_tag + re-tag pins a
                    # different version under the same name), and the
                    # per-delete recheck exists precisely to see such
                    # concurrent changes (review finding).
                    try:
                        with open(
                            os.path.join(tags_root, tn), encoding="utf-8"
                        ) as fh:
                            tagged.add(json.load(fh)["version"])
                    except (OSError, ValueError, KeyError):
                        continue  # racing drop_tag / torn temp
            return ldirs, ldvs, tagged
        # Manifest files are immutable once linked (commit writes
        # v{v}.json exactly once), so parsed manifests are cached across
        # the sweep — the per-delete liveness RE-CHECK below still
        # re-lists the manifest DIR (new commits must be seen), but no
        # longer re-reads every kept JSON per snap dir, which made a
        # sweep O(#snap_dirs × #manifests) filesystem reads as the
        # table aged (round-6 advisor finding).
        mcache: dict[int, dict] = {}

        def _manifest_cached(v: int) -> dict:
            if v not in mcache:
                mcache[v] = self._manifest(v)
            return mcache[v]

        for name in sorted(os.listdir(self.path)):
            # Equality-delete files share the vectors' lifecycle: live
            # while any kept manifest's eq map references them, aged
            # out like a dead snapshot after rewrites drop references.
            is_dv = name.startswith("dv-") or name.startswith("eq-")
            if not (name.startswith("snap-") or is_dv):
                continue
            try:
                age = now - os.path.getmtime(os.path.join(self.path, name))
            except OSError:
                continue
            if age < grace_seconds:
                continue
            # Re-read liveness at delete time: manifests may have landed
            # (or been vacuumed) since the initial scan.
            current = self.versions()
            kept_now = set(current[-keep_versions:]) if current else set()
            live_now: set[str] = set()
            live_dvs: set[str] = set()
            rdirs, rdvs, tagged = _ref_tag_live()
            live_now |= rdirs
            live_dvs |= rdvs
            for v in (kept_now | (keep & set(current))) | (
                tagged & set(current)
            ):
                m = _manifest_cached(v)
                live_now.update(m["dirs"])
                for aux in ("dv", "eq"):
                    for names in m.get(aux, {}).values():
                        live_dvs.update(names)
            if is_dv:
                # A deletion vector is live while ANY kept manifest
                # references it; compaction/rewrites drop references,
                # after which the vector ages out like a dead snapshot.
                if name in live_dvs:
                    continue
                shutil.rmtree(os.path.join(self.path, name))
                deleted.append(name)
                continue
            # Clustered snapshots are referenced as "snap-x/_bucket=N"
            # sub-dirs while this sweep walks TOP-LEVEL snap-x entries:
            # a top-level dir is live if any manifest references it
            # directly OR any of its sub-dirs (deleting snap-x would
            # take every live bucket with it). Precomputed top-name set
            # keeps the sweep O(#snap_dirs + #live_dirs), matching the
            # manifest-cache discipline above (review finding).
            live_tops = {d.split("/", 1)[0] for d in live_now}
            if name in live_now:
                continue
            if name in live_tops:
                # Prefix-live only: some buckets of this clustered
                # snapshot are live, but sub-dirs no kept manifest
                # references (e.g. a bucket rewritten by a surgical
                # delete/merge) are dead and would otherwise leak
                # space until the next full re-cluster (review
                # finding). Reclaim them sub-dir-granularly, same
                # age guard.
                top = os.path.join(self.path, name)
                for sub in sorted(os.listdir(top)):
                    full = f"{name}/{sub}"
                    sub_path = os.path.join(top, sub)
                    if (
                        not os.path.isdir(sub_path)
                        or full in live_now
                    ):
                        continue
                    try:
                        sub_age = now - os.path.getmtime(sub_path)
                    except OSError:
                        continue
                    if sub_age < grace_seconds:
                        continue
                    shutil.rmtree(sub_path)
                    deleted.append(full)
                continue
            shutil.rmtree(os.path.join(self.path, name))
            deleted.append(name)
        # Manifest retirement must NOT reuse the entry-time keep set: a
        # version committed while the snap sweep ran would then be
        # unlinked and the table silently rolled back (review finding).
        # Re-read and delete only manifests strictly BELOW the live
        # keep window — except TAGGED versions, whose manifests (and,
        # above, dirs) stay resolvable for as long as the tag lives.
        vs_now = self.versions()
        keep_now = set(vs_now[-keep_versions:]) if vs_now else set()
        floor = min(keep_now) if keep_now else 0
        _, _, tagged_now = _ref_tag_live()
        for v in vs_now:
            if v < floor and v not in tagged_now:
                os.unlink(os.path.join(self.manifest_dir, f"v{v}.json"))
        return sorted(deleted)
