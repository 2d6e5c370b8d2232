"""Super-table catalog over Parquet.

Reference data model (SURVEY §1): a super table is a schema template whose
first column is a TIMESTAMP primary key plus tag columns; child tables are
one-time-series slices identified by ``tbname``. Duplicate (tbname, ts)
inserts overwrite keeping the newest version (reference
include/common/taosdef.h:59-64, TD_ROW_OVERWRITE_UPDATE).

Spark-first mapping:
  - one partitioned Parquet dataset per super table,
  - tags are ordinary columns (usable for partition pruning),
  - ``tbname`` is an ordinary string column,
  - dedup-keep-last on (tbname, ts) is applied on read when requested —
    expressed as ``max_by(struct(*cols), _version)`` per key, which Spark
    executes as a single hash aggregate (partial+final, no extra shuffle
    beyond the one groupBy).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: canonical table names shipped in the driver's testdata dirs
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: engine session timezone (the reference's server `timezone` config,
#: taos.cfg). Every catalog read pins the Spark session to this zone so
#: literal parsing, calendar bucketing and rendering stay consistent;
#: replays of the reference CI set "Asia/Shanghai" here.
SESSION_TZ = "UTC"


@dataclass
class SuperTable:
    """Descriptor for a super table: where it lives and its key columns."""

    name: str
    path: str
    ts_col: str = "ts"
    tbname_col: str = "tbname"
    tag_cols: tuple[str, ...] = ()
    version_col: str | None = None  # ingest version for keep-last dedup
    #: a child table of a super table: tbname and every tag are
    #: single-valued, so the planner may treat them as scan constants
    child: bool = False
    #: CREATE TABLE … USING parent TAGS(…): rows live in the parent's
    #: dataset under tbname = this name, with these tag values
    parent: "str | None" = None
    tag_values: tuple = ()
    #: dialect-managed (created via CREATE TABLE/STABLE): reads dedup
    #: keep-last on (tbname, ts) — the reference's overwrite-update on
    #: duplicate-key INSERT. Driver testdata tables stay unmanaged, so
    #: gate/bench scans pay no dedup aggregate.
    managed: bool = False
    #: COMPOSITE PRIMARY KEY (sql.y:3250 column_options PRIMARY KEY): a
    #: second key column — rows are unique on (tbname, ts, pk_col), so
    #: dedup-on-read, as-of picks and last_row tie-breaks key on it.
    pk_col: "str | None" = None
    #: physical table name when this registration is an ALIAS (cross-db
    #: reference): child-table slices filter tbname by this, not the
    #: alias key
    src_name: "str | None" = None
    #: declared data-column order from CREATE TABLE (ts first). Parquet
    #: footer order can differ per append file (each INSERT builds its
    #: own frame), and Spark picks an arbitrary footer — reads
    #: re-project to this declared order so ``SELECT *`` and ordinal
    #: checkData indices stay stable.
    data_cols: tuple[str, ...] = ()
    #: columns declared UNSIGNED (stored one Spark tier wider — there
    #: is no unsigned type); INSERT range validation keys off this
    unsigned_cols: tuple[str, ...] = ()
    #: (name, declared-type-text) pairs from CREATE TABLE, in declared
    #: order (data cols then tags) — DESCRIBE renders the reference's
    #: type names (VARCHAR/NCHAR with declared lengths) from these
    declared_types: tuple = ()

    # -- schema evolution (ALTER TABLE/STABLE, sql.y:1091-1117) -------
    # The reference records ALTERs as mnode metadata (schema version
    # bump) without touching row data; the Spark analog is a metadata
    # OVERLAY applied at scan time: added columns project as typed
    # NULLs (old files simply lack them — parquet schema merging fills
    # NULL), drops prune the projection, renames/retypes rewrite it.
    # Persisted as a JSON sidecar next to the dataset so evolution
    # survives the session. No data rewrite at any scale.

    @property
    def _overlay_path(self) -> str:
        return f"{self.path}.schema.json"

    def load_overlay(self) -> dict:
        import json
        import os

        if os.path.exists(self._overlay_path):
            with open(self._overlay_path) as f:
                ov = json.load(f)
            ov.setdefault("phys", {})
            return ov
        return {"add": [], "drop": [], "rename": {}, "retype": {}, "phys": {}}

    def save_overlay(self, ov: dict) -> None:
        import json

        with open(self._overlay_path, "w") as f:
            json.dump(ov, f)

    def _apply_overlay(self, df: DataFrame) -> DataFrame:
        import os

        if not os.path.exists(self._overlay_path):
            return df
        ov = self.load_overlay()
        for old, new in ov["rename"].items():
            if old in df.columns:
                df = df.withColumnRenamed(old, new)
        for c, t in ov["retype"].items():
            if c in df.columns:
                df = df.withColumn(c, F.col(c).cast(t))
        for c in ov["drop"]:
            if c in df.columns:
                df = df.drop(c)
        # re-added columns live under a versioned physical name so the
        # dropped generation's data stays masked (the reference bumps
        # the column id — old values are unreachable)
        for c, t in ov["add"]:
            p = ov["phys"].get(c, c)
            if p != c and p in df.columns:
                df = df.withColumnRenamed(p, c)
            elif c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast(t))
        return df

    def read(
        self,
        spark: SparkSession,
        dedup: bool = False,
        ts_range: "tuple | None" = None,
        pk_merge: bool = True,
        tbname_in: "list | None" = None,
    ) -> DataFrame:
        """Read the table; ``ts_range=(lo, hi)`` (half-open, ISO strings or
        datetimes, either side None) is applied as a *pushable* predicate:
        for ns-long stored timestamps the comparison happens on the raw
        int64 column BEFORE conversion, so it reaches the parquet reader
        as PushedFilters and prunes row groups — the plan-time time-range
        push the reference does in its TableScan (tsdbRead2.c BRIN)."""
        # runtime-set (idempotent): the caller's session may not come from
        # our factory — ns-precision parquet fails to read without the
        # legacy conf, and non-UTC sessions render timestamps shifted
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", SESSION_TZ)
        # Spark 4 reads tz-naive parquet timestamps as TIMESTAMP_NTZ by
        # default; the engine (like the reference, which stores epoch int64)
        # works in epoch-UTC TIMESTAMP — unix_micros() et al. require it
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        import os as _os

        # mergeSchema only for evolved datasets (overlay present): post-
        # ALTER appends may carry columns the old files lack; unevolved
        # reads keep the single-footer fast path
        if _os.path.exists(self._overlay_path):
            df = spark.read.option("mergeSchema", "true").parquet(self.path)
            df = self._apply_overlay(df)
        else:
            df = spark.read.parquet(self.path)
        df = _ntz_to_utc_timestamp(df)
        ns_cols = _ns_timestamp_cols(self.path)
        if ts_range is not None and self.ts_col in df.columns:
            lo, hi = ts_range
            if self.ts_col in ns_cols:
                import pandas as pd

                if lo is not None:
                    df = df.where(F.col(self.ts_col) >= pd.Timestamp(lo).value)
                if hi is not None:
                    df = df.where(F.col(self.ts_col) < pd.Timestamp(hi).value)
            else:
                if lo is not None:
                    df = df.where(F.col(self.ts_col) >= F.lit(lo).cast("timestamp"))
                if hi is not None:
                    df = df.where(F.col(self.ts_col) < F.lit(hi).cast("timestamp"))
        df = _normalize_ns_timestamps(df, self.path, ns_cols)
        if tbname_in is not None and self.tbname_col in df.columns:
            # WHERE pins tbname to specific children: the reference prunes
            # non-matching children at planning time, so the filter must
            # precede the cross-child composite-pk merge below (a duplicate
            # (ts, pk) owned by a pruned sibling must not win the merge).
            # Also a pushable predicate — reaches the parquet scan.
            df = df.where(F.col(self.tbname_col).isin(list(tbname_in)))
        if dedup and self.ts_col in df.columns:
            keys = [
                c
                for c in (self.tbname_col, self.ts_col, self.pk_col)
                if c and c in df.columns
            ]
            if self.version_col or "_version" in df.columns:
                df = dedup_keep_last(df, keys=keys, version_col=self.version_col)
            else:
                # unversioned legacy dataset: duplicate-key rows come
                # from re-inserts of the same logical row — any single
                # winner reproduces the overwrite-update visible state
                df = df.dropDuplicates(keys)
            if "_version" in df.columns:
                df = df.drop("_version")
            if (
                pk_merge
                and self.pk_col
                and self.pk_col in df.columns
                and self.tbname_col in df.columns
            ):
                # cross-child composite-pk merge: the reference's
                # TableMergeScan emits ONE row per (ts, pk) across
                # child tables — the earliest-created child wins
                # (test_fun_ts_diff.py withPkTest: duplicate (ts, pk)
                # in a later sibling doesn't change the stream). uid
                # creation order approximated by tbname sort order.
                # Only for MERGED-stream reads: per-child scans
                # (partition/group by tbname, child-slice reads) keep
                # each child's own rows — callers pass pk_merge=False
                # (the reference dedupes only inside TableMergeScan,
                # never across separately-scanned children).
                other = [
                    c for c in df.columns
                    if c not in (self.ts_col, self.pk_col)
                ]
                df = (
                    df.select(
                        self.ts_col, self.pk_col,
                        F.struct(*other).alias("_row"),
                        F.col(self.tbname_col).alias("_tb"),
                    )
                    .groupBy(self.ts_col, self.pk_col)
                    .agg(F.min_by("_row", "_tb").alias("_row"))
                    .select(
                        self.ts_col, self.pk_col,
                        *[F.col(f"_row.{c}").alias(c) for c in other],
                    )
                )
        return self._canonical_order(df)

    def _canonical_order(self, df: DataFrame) -> DataFrame:
        """Re-project to declared column order: ts, data columns (declared
        order, then ALTER-added), tags, tbname, _version. A no-op select
        when the frame already agrees — Catalyst prunes through it.

        Only applies when the CREATE declared the column order
        (``data_cols``) — driver-provided parquet keeps its footer order
        so ordinal metadata (information_schema col_position) matches
        what any other parquet reader reports."""
        if not self.data_cols:
            return df
        cols = df.columns
        tagset = set(self.tag_cols)
        internal = {self.tbname_col, "_version"}
        front = [self.ts_col] if self.ts_col in cols else []
        # ALTER RENAME keeps the column's position (mndStb.c renames the
        # schema slot in place), so map the declared order through the
        # overlay's rename dict; a column dropped then re-ADDed gets a new
        # colId in the reference and is appended at the end — the overlay
        # records those under phys (versioned physical name), so demote
        # them out of the declared slot into the appended 'extra' run.
        decl_src = list(self.data_cols)
        import os as _os

        if _os.path.exists(self._overlay_path):
            ov = self.load_overlay()
            ren = ov.get("rename", {})
            # follow rename chains (c1→x1 then x1→y1) in overlay order
            for old, new in ren.items():
                decl_src = [new if c == old else c for c in decl_src]
            readded = {
                c for c in ov.get("phys", {}) if ov["phys"][c] != c
            }
            decl_src = [c for c in decl_src if c not in readded]
        declared = [
            c for c in decl_src
            if c in cols and c not in front
        ]
        seen = set(front) | set(declared) | tagset | internal
        extra = [c for c in cols if c not in seen]
        tail = [c for c in self.tag_cols if c in cols]
        tail += [c for c in (self.tbname_col, "_version") if c in cols]
        order = front + declared + extra + tail
        return df.select(*order) if order != cols else df


def _ntz_to_utc_timestamp(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (session tz UTC, so the
    wall-clock value is preserved). Defensive second layer behind the
    inferTimestampNTZ conf: a caller-owned session may have completed reads
    before our conf set, or hand the frame in pre-built."""
    from pyspark.sql.types import TimestampNTZType

    for fld in df.schema.fields:
        if isinstance(fld.dataType, TimestampNTZType):
            df = df.withColumn(fld.name, F.col(fld.name).cast("timestamp"))
    return df


def _ns_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as
    LongType nanos under ``spark.sql.legacy.parquet.nanosAsLong``."""
    try:
        import glob
        import os

        import pyarrow.parquet as pq

        f = path
        if os.path.isdir(path):
            parts = glob.glob(f"{path}/*.parquet") or glob.glob(f"{path}/**/*.parquet")
            if not parts:
                return []
            f = parts[0]
        schema = pq.read_schema(f)
        return [
            fld.name
            for fld in schema
            if str(fld.type) == "timestamp[ns]"
        ]
    except Exception:
        return []


def _normalize_ns_timestamps(
    df: DataFrame, path: str, ns_cols: "list[str] | None" = None
) -> DataFrame:
    """ns→us conversion (floor), matching DuckDB's TIMESTAMP_NS→TIMESTAMP
    cast so oracle comparisons line up. The reference stores ns-precision
    epochs as int64 too (SURVEY §1.2 TIMESTAMP row)."""
    for c in ns_cols if ns_cols is not None else _ns_timestamp_cols(path):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            # integer `div`, NOT `/`: float division of ns-scale int64
            # (~1.7e18) loses precision beyond 2^53 and shifts by ±1us
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def dedup_keep_last(
    df: DataFrame, keys: list[str], version_col: str | None = None
) -> DataFrame:
    """Keep the newest version per key — the reference's overwrite-on-
    duplicate-ts semantics (taosdef.h TD_ROW_OVERWRITE_UPDATE) as a read-
    time transform.

    ``version_col`` is REQUIRED (``sources.ingest.append_batch`` stamps
    ``_version`` on every batch): "newest" derived from row order is
    nondeterministic under re-partitioning, so this refuses to guess.

    Scale: one hash aggregate; partial aggregation collapses duplicates
    map-side before the shuffle, so cost ~ one groupBy on the natural key.
    """
    if not version_col:
        if "_version" in df.columns:
            version_col = "_version"
        else:
            raise ValueError(
                "dedup_keep_last needs a version column to define 'newest' "
                "deterministically — ingest via sources.ingest.append_batch "
                "(stamps _version) or pass version_col explicitly"
            )
    other = [c for c in df.columns if c not in keys]
    packed = df.select(
        *keys, F.struct(*other).alias("_row"), F.col(version_col).alias("_v")
    )
    deduped = packed.groupBy(*keys).agg(F.max_by("_row", "_v").alias("_row"))
    return deduped.select(*keys, *[F.col(f"_row.{c}").alias(c) for c in other])


@dataclass
class Database:
    """A directory of Parquet super tables (the reference's db namespace)."""

    root: str
    tables: dict[str, SuperTable] = field(default_factory=dict)
    #: database name (information_schema db_name column); "db" when the
    #: caller doesn't track one
    name: str = "db"
    #: sibling databases of the same session (cross-db introspection:
    #: ins_tables/ins_vgroups list EVERY db the session knows)
    siblings: "dict | None" = None
    #: CREATE DATABASE … PRECISION 'ms'|'us'|'ns' — the unit bare-integer
    #: epoch arithmetic on timestamps resolves to (Spark stores us;
    #: ns semantics floor to the microsecond)
    precision: str = "ms"
    #: CREATE VIEW name AS <select>: logical views, substituted as
    #: derived tables at translate time (the reference's view rewrite,
    #: parTranslater.c translateView)
    views: dict = field(default_factory=dict)

    def table(self, name: str) -> SuperTable:
        if name not in self.tables:
            self.tables[name] = SuperTable(name=name, path=f"{self.root}/{name}.parquet")
        return self.tables[name]

    def read(
        self,
        spark: SparkSession,
        name: str,
        dedup: bool = False,
        pk_merge: bool = True,
        tbname_in: "list | None" = None,
    ) -> DataFrame:
        return self.table(name).read(
            spark, dedup=dedup, pk_merge=pk_merge, tbname_in=tbname_in
        )


def information_schema(
    spark: SparkSession, dbs: dict[str, Database], view: str = "ins_tables"
) -> DataFrame:
    """``information_schema`` analogs (reference
    source/libs/executor/src/sysscanoperator.c; view list
    include/common/systable.h:26-70): synthesize catalog DataFrames from
    registered databases.

    Views: ``ins_tables`` (one row per table), ``ins_stables`` (per
    super table with column/tag counts), ``ins_columns`` (one row per
    column, parquet schema order), ``ins_tags`` (one row per tag
    column). Catalog metadata is tiny by construction — these are
    in-memory DataFrames, broadcastable into any introspection join.
    """
    import os as _os

    def _schema_of(db: Database, t: SuperTable):
        # a child table (CREATE TABLE/INSERT … USING) has no dataset of
        # its own — its rows live in the parent's dataset, and its
        # schema IS the parent's schema (reference: child tables share
        # the super table's schema version)
        if not _os.path.exists(t.path) and t.parent and t.parent in db.tables:
            return db.table(t.parent).read(spark).schema
        return t.read(spark).schema
    def _ncols(db: Database, t: SuperTable) -> int:
        """Data-column count (ts + columns, tags/tbname excluded) for
        ins_tables — 0 when the dataset isn't readable (an empty
        placeholder directory counts as schemaless)."""
        try:
            tags = set(
                (db.table(t.parent).tag_cols
                 if t.parent and t.parent in db.tables else t.tag_cols)
                or ()
            )
            return len([
                f for f in _schema_of(db, t)
                if f.name not in ("_version", t.tbname_col)
                and f.name not in tags
            ])
        except Exception:  # noqa: BLE001 — unreadable/empty dataset
            return 0

    if view == "ins_tables":
        # super tables (= tables that registered children point at) are
        # listed by ins_stables, not ins_tables (systable.h separation)
        rows = []
        for db_name, db in dbs.items():
            parents = {
                t.parent for t in db.tables.values() if t.parent
            }
            rows.extend(
                (
                    # reference userTblsSchema column ORDER
                    # (systable.c:231): table_name, db_name,
                    # create_time, columns, stable_name, uid,
                    # vgroup_id, ttl, table_comment, type — tests
                    # index these POSITIONALLY (queryResult[i][6] =
                    # vgroup_id)
                    t.name, db_name,
                    datetime(2024, 1, 1),  # create_time placeholder
                    _ncols(db, t),
                    t.parent or "",
                    # uid: stable per-table id (reference assigns a
                    # monotone uid at create time; a crc of the name
                    # keeps it deterministic across sessions — Python's
                    # hash() is salted per process)
                    __import__("zlib").crc32(
                        f"{db_name}.{t.name}".encode()
                    ),
                    sum(ord(ch) for ch in t.name) % 2 + 2,  # vgroup_id
                    0,  # ttl: never expires (reference default)
                    "",  # table_comment
                    "CHILD_TABLE" if t.parent else "NORMAL_TABLE",
                )
                for t in db.tables.values()
                if t.name not in parents
            )
        return spark.createDataFrame(
            rows,
            "table_name string, db_name string, create_time timestamp, "
            "columns int, stable_name string, uid bigint, vgroup_id int, "
            "ttl int, table_comment string, type string",
        )
    if view == "ins_stables":
        # reference userStbsSchema order (systable.c:174): stable_name,
        # db_name, create_time, columns, tags, …
        rows = []
        for db_name, db in dbs.items():
            for t in db.tables.values():
                # columns excludes tag columns (and tbname/_version) —
                # same counting rule as ins_tables (_ncols)
                rows.append(
                    (t.name, db_name, datetime(2024, 1, 1),
                     _ncols(db, t), len(t.tag_cols))
                )
        return spark.createDataFrame(
            rows,
            "stable_name string, db_name string, create_time timestamp, "
            "columns int, tags int",
        )
    if view == "ins_columns":
        rows = []
        for db_name, db in dbs.items():
            for t in db.tables.values():
                fields = [
                    f for f in _schema_of(db, t)
                    if f.name != "_version"  # internal insert stamp
                ]
                for pos, fld in enumerate(fields, start=1):
                    rows.append(
                        (db_name, t.name, fld.name,
                         fld.dataType.simpleString(), pos)
                    )
        return spark.createDataFrame(
            rows,
            "db_name string, table_name string, col_name string, "
            "col_type string, col_position int",
        )
    if view == "ins_tags":
        rows = []
        for db_name, db in dbs.items():
            for t in db.tables.values():
                if not t.tag_cols:
                    continue
                types = {f.name: f.dataType.simpleString()
                         for f in _schema_of(db, t)}
                for tag in t.tag_cols:
                    rows.append((db_name, t.name, tag, types.get(tag, "")))
        return spark.createDataFrame(
            rows,
            "db_name string, stable_name string, tag_name string, "
            "tag_type string",
        )
    if view == "ins_databases":
        # db-level stats (systable.h TSDB_INS_TABLE_DATABASES): vgroups
        # map to the session's shuffle parallelism, precision to our us
        # storage
        rows = [
            (
                name,
                len(db.tables),
                int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
                "us",
                "ready",
            )
            for name, db in dbs.items()
        ]
        return spark.createDataFrame(
            rows,
            "name string, ntables int, vgroups int, precision string, "
            "status string",
        )
    if view == "ins_users":
        # Spark delegates auth to the cluster manager — the session user
        # is the one (super)user (TSDB_INS_TABLE_USERS)
        return spark.createDataFrame(
            [(spark.sparkContext.sparkUser(), 1, 1)],
            "name string, super int, enable int",
        )
    if view == "ins_vgroups":
        # vgroup ↔ the unit of storage parallelism
        # (TSDB_INS_TABLE_VGROUPS): one row per vgroup a db's tables
        # map onto — the ids MUST be consistent with the vgroup_id
        # column ins_tables assigns (the reference's distribute checks
        # join the two); here that assignment is the same name-hash
        import os

        rows = []
        for db_name, db in dbs.items():
            vg = {}
            for t in db.tables.values():
                vgid = sum(ord(ch) for ch in t.name) % 2 + 2
                size = 0
                paths = [t.path]
                if os.path.isdir(t.path):
                    paths = [
                        os.path.join(t.path, f)
                        for f in sorted(os.listdir(t.path))
                        if f.endswith(".parquet")
                    ]
                for p in paths:
                    if os.path.exists(p):
                        size += os.path.getsize(p)
                n, s = vg.get(vgid, (0, 0))
                vg[vgid] = (n + 1, s + size)
            for vgid in sorted(vg):
                n, s = vg[vgid]
                rows.append((vgid, db_name, n, s, "ready"))
        return spark.createDataFrame(
            rows,
            "vgroup_id int, db_name string, tables int, "
            "size_bytes long, status string",
        )
    if view == "ins_streams":
        from tdengine_spark.streaming.create_stream import list_streams

        rows = [
            (
                s.name,
                "ready",
                s.source,
                s.into or "",
                s.trigger,
                ",".join(s.partition_by),
            )
            for s in list_streams()
        ]
        return spark.createDataFrame(
            rows,
            "stream_name string, status string, source_table string, "
            "target_table string, trigger string, partition_by string",
        )
    if view == "ins_configs":
        rows = sorted(
            (k, str(v)) for k, v in spark.sparkContext.getConf().getAll()
        )
        return spark.createDataFrame(rows, "name string, value string")
    if view == "ins_cluster":
        sc = spark.sparkContext
        return spark.createDataFrame(
            [(sc.applicationId, sc.master, sc.version)],
            "id string, name string, version string",
        )
    if view == "ins_dnodes":
        # dnodes ↔ executors; local mode reports the single driver-node
        sc = spark.sparkContext
        infos = sc._jsc.sc().statusTracker().getExecutorInfos()
        rows = [
            (i, infos[i].host(), "ready") for i in range(len(infos))
        ]
        return spark.createDataFrame(
            rows, "id int, endpoint string, status string"
        )
    raise ValueError(
        f"unknown information_schema view {view!r}; supported: "
        "ins_tables, ins_stables, ins_columns, ins_tags, ins_databases, "
        "ins_users, ins_vgroups, ins_streams, ins_configs, ins_cluster, "
        "ins_dnodes"
    )


def block_dist(spark: SparkSession, path: str) -> DataFrame:
    """``SHOW TABLE DISTRIBUTED`` / BlockDistScan analog (reference
    executor blockdistscan; tsdbRead block distribution): per-file
    row-group statistics from the parquet footers — rows, compressed and
    uncompressed bytes per block. Footer-only reads via pyarrow (no data
    scan), the same way the reference serves block stats from metadata.
    """
    import glob
    import os

    import pyarrow.parquet as pq

    files = (
        sorted(
            glob.glob(f"{path}/*.parquet") + glob.glob(f"{path}/**/*.parquet")
        )
        if os.path.isdir(path)
        else [path]
    )
    rows = []
    for f in files:
        meta = pq.read_metadata(f)
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            comp = sum(
                g.column(c).total_compressed_size for c in range(g.num_columns)
            )
            rows.append(
                (os.path.basename(f), rg, g.num_rows, comp, g.total_byte_size)
            )
    return spark.createDataFrame(
        rows,
        "file string, row_group int, num_rows long, compressed_bytes long, "
        "total_bytes long",
    )
