"""Idempotent merge sinks — the reference's exactly-once-per-key load
path (SURVEY.md §2.2 K3/K4, §2.7 D1) re-expressed for Spark.

Two implementations of the same contract (``merge(df)``):

- ``ParquetMergeSink``: a parquet-backed managed table for local /
  lakehouse use. Insert-if-absent is a left-anti join against the key
  columns of the touched buckets; the new rows land as new files, and
  one manifest version commits each change. The bucket count follows
  the table's bytes: a new table is one bucket, so an insert is one
  shuffle, one broadcast and one file write, and the table is
  rebucketed to about one scan split per bucket as it grows. At
  100 TB you'd use an Iceberg/Delta table and its MERGE INTO; the
  anti-join plan and the add/remove commit are the same ideas at
  their smallest — this sink is the dependency-free stand-in.
- ``DBUpsertSink``: staging + single merge statement against a
  DB-API database (the reference's temp table + asyncpg COPY +
  ``INSERT ... SELECT ... ON CONFLICT DO NOTHING``,
  src/dao/cardano_block_dao.py:93-148). Rows travel executor-side via
  ``foreachPartition``; the merge + watermark update run in ONE
  driver-side transaction, mirroring the reference's
  ``engine.begin()`` scope (s3_to_db_cardano_blocks_pipeline.py:105-127).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Collection, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cardano_spark.sinks.ddl import create_table_sql, quote_ident
from cardano_spark.sources.objectstore import ObjectStore


def dedup_by_key(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Batch-internal dedup (D2) with a DETERMINISTIC survivor: among
    same-key rows the one with the smallest non-key column tuple wins
    (nulls first — Spark's ascending default).  ``dropDuplicates``
    keeps an arbitrary row, which is harmless for identical-value
    replays but silently nondeterministic when a batch carries
    conflicting values per key; this pins the choice so upsert output
    is a pure function of the batch contents."""
    non_keys = [c for c in df.columns if c not in keys]
    if not non_keys:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*[F.asc(c) for c in non_keys])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


_LOG = "_log"  # committed versions, one JSON object each
_STAGE = "_stage"  # a mutation's new files, until its version commits
_LEGACY_META = "_table_meta.json"  # bucket count of a pre-manifest table
# the bucket count every pre-manifest table without a meta file was
# written with (the fixed default of that time)
_LEGACY_N_BUCKETS = 16


class ParquetMergeSink:
    """Managed parquet table with INSERT-if-absent merge semantics,
    hash-bucketed on the merge key.

    Layout: ``path/_bucket=K/*.parquet`` with
    ``K = pmod(xxhash64(*keys), n_buckets)`` — a pure function of the
    key, so an existing row and any incoming duplicate of it land in
    the same bucket and the anti-join stays correct bucket-locally.
    Readers scan the root or bucket directories, never a file list:
    Spark lists up to 32 paths on the driver but starts a listing job
    for more, and appended files pass 32 within a few merges.

    Bucket count: sized to the data. A new table starts with
    ``n_buckets`` (default 1); a committed count always wins over the
    argument. After each merge commits, the sink sums the live bytes
    of the manifest (driver-side, no Spark job). Once they pass
    ``2 * n_buckets * split``, where ``split`` is the session's
    ``spark.sql.files.maxPartitionBytes``, the same call rebuckets the
    table to ``ceil(bytes / split)`` buckets (:meth:`rebucket`, one
    version), so a bucket holds about one scan split. The table
    doubles between growth steps, so the rewrites sum to about twice
    the final size: each byte is rewritten at most about twice over
    the table's life. Nothing shrinks a table; ``maintain --rebucket
    N`` is the manual path.

    Merge I/O is O(new rows) for an insert: it reads only the key
    columns of the buckets the batch touches and writes only the rows
    whose key is absent, as one new file per touched bucket. No
    existing file is rewritten (pinned by
    tests/test_watermark_and_sinks.py). At one bucket a non-empty
    batch touches bucket 0, so an insert runs 3 Spark jobs (the bucket
    shuffle, the broadcast of the existing keys, the write) and stages
    one file. Above one bucket it first collects the touched bucket
    ids from the cached batch, so it reads only those buckets' keys:
    5 jobs, and one file per touched bucket. Upsert, delete, compact
    and rebucket rewrite what they touch, so they are O(touched
    buckets) (rebucket: every bucket). Inserts add files until
    :meth:`compact` (the ``maintain --compact`` CLI step) folds them.

    Commit protocol: one manifest. Every mutation
    1. writes its new files under ``path/_stage/``, which Spark scans
       skip (leading ``_``);
    2. commits one version, ``path/_log/{N:020d}.json``, with a
       create-if-absent put through ``sources/objectstore.py``. The
       version holds the live files (relative path -> bytes) and
       ``n_buckets``;
    3. rolls forward to it.

    The roll-forward also runs before every read and every mutation,
    and it has one rule: the newest version that parses is the table.
    It moves the staged files that version lists into ``_bucket=K/``,
    deletes the files an older version lists and it does not (a bucket
    directory left with no live file goes whole), and deletes
    ``_stage`` and the older versions. A crash before the commit thus
    leaves the previous version, and a crash after it the new one.
    When any mutation returns, the bucket directories hold exactly the
    committed files. At rest ``_log`` holds one version and ``_stage``
    is absent, so a read lists no data directory.

    The sink assumes a single writer. Two writers would race for the
    same version number; the put decides the race only where the
    filesystem's exclusive create is atomic, and nothing retries the
    loser (ROADMAP item 6). Every call goes through the Hadoop
    FileSystem seam, so the protocol runs on ``s3a://`` too, where the
    staged moves are copies of the new bytes only.

    A table written before the manifest existed (bucket directories
    and ``_table_meta.json``, no ``_log``) reads as its directories,
    and its first mutation adopts the files it finds into its version.
    Without a meta file it is adopted with the 16 buckets every such
    table was written with.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        keys: Sequence[str],
        n_buckets: int = 1,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        # `_bucket` is the sink's internal partition-directory key, not
        # table data. A schema discovered via spark.read.parquet(path)
        # on a live sink partition-discovers it as an int column;
        # accepting it would persist a spurious `_bucket` data column on
        # the next merge() and surface it from read().
        if any(f.name == "_bucket" for f in schema.fields):
            raise ValueError(
                "ParquetMergeSink schema must not contain the internal "
                "'_bucket' column (partition-discovered from a live "
                "sink path? strip it before constructing the sink)"
            )
        self.schema = schema
        self.keys = list(keys)
        self._store = ObjectStore(spark, self.path)
        # a live table's bucket count is TABLE state, not caller
        # opinion: the committed version's count wins, and the argument
        # only seeds a new table. A stale constructor arg after a
        # rebucket would otherwise mis-route every future merge.
        self.n_buckets = n_buckets
        self._roll_forward()

    def _roll_forward(self) -> dict[str, int]:
        """Make the table match its newest committed version and
        return that version's live files (relative path -> bytes).
        Idempotent; driver-side object-store calls only."""
        names = self._store.list_names(_LOG)
        self._version, state = -1, None
        for name in reversed(names):
            try:
                state = json.loads(self._store.get(f"{_LOG}/{name}"))
            except ValueError:
                continue  # a torn put: never committed
            self._version = int(name.split(".")[0])
            break
        if state is None:
            state = self._unversioned()
        self.n_buckets = state.get("n_buckets") or self.n_buckets
        live = state["files"]
        if self._store.exists(_STAGE):
            for rel in self._staged():
                if rel in live:
                    self._store.rename(f"{_STAGE}/{rel}", rel)
            self._store.delete(_STAGE)
        kept = {f.split("/")[0] for f in live}
        for name in names:
            if name == f"{self._version:020d}.json":
                continue
            try:
                old = json.loads(self._store.get(f"{_LOG}/{name}"))["files"]
            except ValueError:
                old = {}
            gone = {f.split("/")[0] for f in old} - kept
            dead = [f for f in old if f not in live and f.split("/")[0] in kept]
            for rel in sorted(gone) + dead:
                self._store.delete(rel)
            self._store.delete(f"{_LOG}/{name}")
        return live

    def _unversioned(self) -> dict:
        """State of a table with no committed version: none, or one
        written before the manifest existed, which is its bucket
        directories plus the bucket count in its meta file (16 when
        it has none)."""
        files = {o.path: o.size for o in self._store.glob("_bucket=*/*.parquet")}
        if not files:
            return {"files": files}
        n = _LEGACY_N_BUCKETS
        if self._store.exists(_LEGACY_META):
            n = json.loads(self._store.get(_LEGACY_META))["n_buckets"]
        return {"n_buckets": int(n), "files": files}

    def _staged(self) -> dict[str, int]:
        """Files under ``_stage``, by the path they take when live."""
        return {
            o.path[len(_STAGE) + 1:]: o.size
            for o in self._store.glob(f"{_STAGE}/_bucket=*/*.parquet")
        }

    def _commit(
        self,
        live: dict[str, int],
        new: DataFrame,
        drop: Collection[str],
    ) -> dict[str, int]:
        """Steps 1-3 of every mutation: stage ``new`` (rows carrying
        ``_bucket``) as files, commit the version that drops ``drop``
        from ``live`` and adds them, roll forward to it and return its
        live files."""
        new.write.mode("overwrite").partitionBy("_bucket").parquet(
            f"{self.path}/{_STAGE}"
        )
        files = {f: n for f, n in live.items() if f not in drop}
        files.update(self._staged())
        if files != live:
            self._store.put_if_absent(
                f"{_LOG}/{self._version + 1:020d}.json",
                json.dumps(
                    {"n_buckets": self.n_buckets, "files": files},
                    sort_keys=True,
                ).encode(),
            )
        return self._roll_forward()

    def _grow(self, live: dict[str, int]) -> None:
        """Rebucket to about one scan split per bucket once the live
        bytes pass two splits per bucket. The bytes come from the
        manifest and the split from the session's SQLConf, so the check
        runs no Spark job."""
        split = self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        size = sum(live.values())
        if size > 2 * self.n_buckets * split:
            self.rebucket(-(-size // split))

    @staticmethod
    def _by_bucket(live: Collection[str]) -> dict[int, list[str]]:
        out: dict[int, list[str]] = {}
        for f in sorted(live):
            out.setdefault(int(f.split("/")[0].split("=")[1]), []).append(f)
        return out

    def _bucket_col(self) -> Column:
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in self.keys]), F.lit(self.n_buckets)
        ).cast("int")

    def _touched(self, fresh: DataFrame) -> list[int]:
        # touched-bucket ids: <= n_buckets scalars, driver-side by design
        return sorted(r._bucket for r in fresh.select("_bucket").distinct().collect())

    def read(self) -> DataFrame:
        """The table under exactly the declared schema (the `_bucket`
        partition directory key is an internal layout detail, not a
        column — partition discovery would otherwise append it)."""
        if not self._roll_forward():
            return self.spark.createDataFrame([], self.schema)
        return (
            self.spark.read.schema(self.schema)
            .parquet(self.path)
            .select(*[f.name for f in self.schema.fields])
        )

    def _read_buckets(self, buckets: Sequence[int], live: dict[str, int]) -> DataFrame:
        have = self._by_bucket(live)
        dirs = [f"{self.path}/_bucket={b}" for b in buckets if b in have]
        if not dirs:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(*dirs)

    def merge(self, incoming: DataFrame, mode: str = "insert") -> None:
        """Key-merge a batch into the table, touching only the buckets
        containing incoming keys.

        - ``mode="insert"``: rows whose key is absent are appended as
          new files; existing rows win and stay untouched (ON CONFLICT
          DO NOTHING — the reference's idempotency primitive, D1).
        - ``mode="upsert"``: incoming rows REPLACE existing rows with
          the same key (ON CONFLICT DO UPDATE), by rewriting the
          touched buckets. This is the
          incremental-materialized-view path: a streaming update-mode
          aggregation emits re-computed aggregate rows per key each
          microbatch, and upserting them keeps the stored rollup equal
          to the full recompute. Idempotent for replayed batches as
          long as replays carry the same values (update-mode streaming
          state guarantees that).

        Batch-internal dups collapse first (D2) with a deterministic
        survivor (:func:`dedup_by_key` — smallest non-key tuple), so a
        batch carrying conflicting values per key upserts a
        well-defined row."""
        if mode not in ("insert", "upsert"):
            raise ValueError(f"mode must be insert|upsert, got {mode!r}")
        live = self._roll_forward()
        # clustered by bucket before the dedup (the bucket is a function
        # of the key, so the window needs no second shuffle); a
        # broadcast anti-join keeps each bucket in one partition, so an
        # insert adds one file per touched bucket
        fresh = dedup_by_key(
            incoming.withColumn("_bucket", self._bucket_col()).repartition("_bucket"),
            ["_bucket", *self.keys],
        )
        if mode == "insert" and self.n_buckets == 1:
            # a non-empty batch touches bucket 0, and an empty one stages
            # no file and so commits no version: no touched-bucket
            # collect, and the write is the batch's one pass
            existing = self._read_buckets([0], live).select(*self.keys)
            live = self._commit(live, fresh.join(existing, self.keys, "left_anti"), [])
        else:
            # cached: the touched-bucket collect and the write share one
            # pass over the batch
            fresh = fresh.persist()
            try:
                touched = self._touched(fresh)
                if not touched:
                    return
                existing = self._read_buckets(touched, live)
                if mode == "insert":
                    new = fresh.join(existing.select(*self.keys), self.keys, "left_anti")
                    drop: list[str] = []
                else:
                    new = fresh.unionByName(
                        existing.join(fresh.select(*self.keys), self.keys, "left_anti")
                        .withColumn("_bucket", self._bucket_col())
                    ).repartition("_bucket")
                    have = self._by_bucket(live)
                    drop = [f for b in touched for f in have.get(b, [])]
                live = self._commit(live, new, drop)
            finally:
                fresh.unpersist()
        self._grow(live)

    def delete(self, keys: DataFrame) -> None:
        """Key-delete a batch from the table, rewriting only the
        buckets containing the keys (the removal twin of :meth:`merge`,
        |keys|-bounded the same way). Keys absent from the table are a
        no-op; the operation is idempotent under replay. A bucket the
        delete empties loses its directory. Added for the corpus
        build's late-decontamination retraction flow (r8 verdict task
        4)."""
        live = self._roll_forward()
        if not live:
            return  # table empty or never created — nothing to delete
        fresh = keys.select(*self.keys).distinct().withColumn(
            "_bucket", self._bucket_col()
        )
        have = self._by_bucket(live)
        touched = [b for b in self._touched(fresh) if b in have]
        if not touched:
            return
        remaining = (
            self._read_buckets(touched, live)
            .join(fresh.select(*self.keys), self.keys, "left_anti")
            .withColumn("_bucket", self._bucket_col())
        )
        drop = [f for b in touched for f in have[b]]
        self._commit(live, remaining.repartition("_bucket"), drop)

    def _bucket_stats(self, b: int) -> tuple[int, int]:
        """(parquet file count, total bytes) of one bucket."""
        live = self._roll_forward()
        files = self._by_bucket(live).get(b, [])
        return len(files), sum(live[f] for f in files)

    def compact(
        self,
        max_files_per_bucket: int = 1,
        target_file_bytes: int | None = None,
    ) -> list[int]:
        """Small-files maintenance: every insert adds a file to each
        touched bucket, so a long-running table accumulates files that
        degrade scan planning (one task per tiny file at 100 TB).
        Rewrite each over-threshold bucket in one version — the same
        commit and roll-forward as merge, so an interrupted compaction
        re-converges. Untouched buckets are never opened; sizes come
        from the manifest. Returns the compacted bucket ids
        (driver-side scalars, <= n_buckets).

        ``target_file_bytes=None``: one file per bucket — the right
        contract when a bucket is sized to a core's working set.
        At 100 TB a bucket outgrows one file: pass
        ``target_file_bytes`` and each bucket is rewritten to
        ``ceil(bucket_bytes / target)`` files via a key-hash salt, so
        files land near the target size; compaction triggers once the
        file count exceeds that ideal PLUS ONE (the +1 hysteresis —
        a just-compacted bucket whose bytes shrank under
        recompression must not immediately re-trigger)."""
        live = self._roll_forward()
        have = self._by_bucket(live)
        want: dict[int, int] = {}  # bucket -> target file count
        for b, files in have.items():
            n_bytes = sum(live[f] for f in files)
            if target_file_bytes is None:
                ideal, threshold = 1, max_files_per_bucket
            else:
                ideal = max(1, -(-n_bytes // target_file_bytes))
                # +1 hysteresis: a just-compacted bucket whose bytes
                # shrank under recompression must not re-trigger
                threshold = ideal + 1
            if len(files) > threshold:
                want[b] = ideal
        fat = sorted(want)
        if not fat:
            return []
        df = self._read_buckets(fat, live).withColumn("_bucket", self._bucket_col())
        if target_file_bytes is None:
            out = df.repartition(len(fat), "_bucket")
        else:
            # per-bucket salt in [0, ideal): ceil(bytes/target) files
            # per bucket, spread by a second key hash
            salt_mod = F.lit(1)
            for b, n in want.items():
                salt_mod = F.when(F.col("_bucket") == b, F.lit(n)).otherwise(
                    salt_mod
                )
            out = (
                df.withColumn(
                    "_salt",
                    F.pmod(
                        F.xxhash64(*[F.col(k) for k in self.keys], F.lit(7)),
                        salt_mod,
                    ).cast("int"),
                )
                .repartition(sum(want.values()), "_bucket", "_salt")
                .drop("_salt")
            )
        self._commit(live, out, [f for b in fat for f in have[b]])
        return fat

    def rebucket(self, new_n: int) -> None:
        """Bucket-count evolution: rewrite the WHOLE table into
        ``new_n`` hash buckets (a growing table's per-bucket working
        set eventually outgrows a core; a shrinking one wastes tasks).
        :meth:`merge` calls it as the table grows; shrinking is manual.
        One version removes every old file and adds the new layout with
        its bucket count, so a crash leaves either layout whole. Rows
        are byte-identical — only the directory a row lives in changes.

        This is O(table) I/O by nature (every row changes bucket with
        probability ~1 - 1/max(old,new)); at lakehouse scale the same
        operation is an Iceberg/Delta partition-spec evolution +
        rewrite."""
        if new_n < 1:
            raise ValueError(f"new_n must be >= 1, got {new_n}")
        live = self._roll_forward()
        if not live:
            self.n_buckets = new_n  # nothing on disk yet
            return
        if new_n == self.n_buckets:
            return
        table = self.read()
        # the new count drives the bucket expression and the version; a
        # failed commit leaves the old one, which the next roll-forward
        # reads back
        self.n_buckets = new_n
        out = table.withColumn("_bucket", self._bucket_col()).repartition(
            min(new_n, 64), "_bucket"
        )
        self._commit(live, out, live)


def pg_copy_sql(table: str, columns: Sequence[str]) -> str:
    """The PG bulk-load statement for a staging table:
    ``COPY "t" ("a","b") FROM STDIN WITH (FORMAT text)``."""
    cols = ", ".join(quote_ident(c) for c in columns)
    return f"COPY {quote_ident(table)} ({cols}) FROM STDIN WITH (FORMAT text)"


def _pg_array_literal(arr: Sequence) -> str:
    """Python twin of sources/jdbc.py::encode_pg_text_array (PG docs
    §8.15.6): every non-null element double-quoted with ``\\`` and
    ``\"`` escaped; NULL elements as the bare word NULL."""
    parts = []
    for e in arr:
        if e is None:
            parts.append("NULL")
        else:
            s = e if isinstance(e, str) else str(e)
            parts.append('"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"')
    return "{" + ",".join(parts) + "}"


def encode_copy_text_row(values: Sequence) -> str:
    """One row in PG COPY text format (PostgreSQL docs, COPY "Text
    Format"): tab-separated fields, ``\\N`` for NULL, backslash
    escapes for the four metacharacters (backslash, tab, newline,
    carriage return), and list/tuple values emitted as PG array
    literals (the TEXT[] columns from ddl.py) — ``str()`` of a Python
    list is NOT a PG array and COPY would reject it. No trailing
    newline — the caller frames rows."""
    out = []
    for v in values:
        if v is None:
            out.append(r"\N")
            continue
        if isinstance(v, (list, tuple)):
            s = _pg_array_literal(v)
        else:
            s = v if isinstance(v, str) else str(v)
        s = (
            s.replace("\\", "\\\\")
            .replace("\t", "\\t")
            .replace("\n", "\\n")
            .replace("\r", "\\r")
        )
        out.append(s)
    return "\t".join(out)


class DBUpsertSink:
    """Staging-table + merge-statement upsert into a SQL database.

    ``connection_factory`` returns a DB-API connection; executors open
    their own for the staging inserts (partition-parallel, the Spark
    answer to the reference's single asyncpg COPY), and the driver
    opens one for the DDL + merge + watermark transaction.

    ``staging_parallelism=None`` (the default) keeps the incoming
    frame's partitioning — every executor writes its partition
    concurrently, which is the only default that survives a 100 TB
    staging load. Pass an int to bound concurrent DB connections
    (``1`` = the single-writer path for embedded/file databases).

    For engines with COPY (Postgres), pass ``copy_partition`` to
    replace executemany with the bulk path — same structure the
    reference uses (asyncpg ``copy_to_table``,
    cardano_block_dao.py:122-137). It is called per staged partition
    as ``copy_partition(conn, sql, payload)`` where ``sql`` is
    :func:`pg_copy_sql` for the staging table and ``payload`` is the
    newline-framed :func:`encode_copy_text_row` text; a psycopg
    implementation is one line
    (``conn.cursor().copy_expert(sql, io.StringIO(payload))``).
    """

    def __init__(
        self,
        connection_factory: Callable[[], object],
        table: str,
        columns: Sequence[str],
        keys: Sequence[str],
        staging_parallelism: int | None = None,
        copy_partition: Callable[[object, str, str], None] | None = None,
    ):
        self.connection_factory = connection_factory
        self.table = table
        self.columns = list(columns)
        self.keys = list(keys)
        self.staging_parallelism = staging_parallelism
        self.copy_partition = copy_partition

    @classmethod
    def from_schema(
        cls,
        connection_factory: Callable[[], object],
        table: str,
        schema: T.StructType | None = None,
        keys: Sequence[str] | None = None,
        staging_parallelism: int | None = None,
    ) -> "DBUpsertSink":
        """Build the sink straight from a StructType — columns and keys
        derive from ``cardano_spark.schemas`` (``TARGET_SCHEMAS`` /
        ``PRIMARY_KEYS``) when not given, mirroring how the reference's
        DAOs derive their column lists from SQLAlchemy metadata."""
        from cardano_spark import schemas as _schemas

        if schema is None:
            schema = _schemas.TARGET_SCHEMAS[table]
        if keys is None:
            keys = _schemas.PRIMARY_KEYS[table]
        sink = cls(
            connection_factory,
            table,
            schema.fieldNames(),
            keys,
            staging_parallelism=staging_parallelism,
        )
        sink.schema = schema
        return sink

    def ensure_target(self, dialect: str = "ansi") -> None:
        """Idempotent CREATE TABLE IF NOT EXISTS for the target from
        its StructType (requires ``from_schema`` construction — the
        plain constructor has no type information). The Alembic-
        equivalent bootstrap step."""
        schema = getattr(self, "schema", None)
        if schema is None:
            raise ValueError(
                "ensure_target needs a StructType: construct via from_schema"
            )
        con = self.connection_factory()
        cur = con.cursor() if hasattr(con, "cursor") else con
        cur.execute(
            create_table_sql(self.table, schema, self.keys, dialect=dialect)
        )
        if hasattr(con, "commit"):
            con.commit()

    def evolve_target(self, dialect: str = "ansi") -> tuple[list[str], list[str]]:
        """Bring an ALREADY-DEPLOYED target up to this sink's declared
        StructType: additive ADD COLUMNs + safe widenings only
        (sinks/ddl.evolve_table — the derived-Alembic step; creates
        the table when absent). Run before ``merge`` after a schema
        release; returns (executed statements, extra live columns kept
        untouched)."""
        schema = getattr(self, "schema", None)
        if schema is None:
            raise ValueError(
                "evolve_target needs a StructType: construct via from_schema"
            )
        from cardano_spark.sinks.ddl import evolve_table

        return evolve_table(
            self.connection_factory(), self.table, schema, dialect=dialect
        )

    # -- SQL builders (dialect: ANSI + ON CONFLICT, works for PG/DuckDB;
    #    identifiers double-quoted so reserved-word columns — the
    #    watermark tables' `table` — survive every dialect) --

    def staging_name(self) -> str:
        return f"staging_{self.table}"

    def create_staging_sql(self) -> str:
        # LIKE-less portable form: copy structure from target
        return (
            f"CREATE TABLE {quote_ident(self.staging_name())} AS "
            f"SELECT * FROM {quote_ident(self.table)} WHERE 1=0"
        )

    def insert_sql(self) -> str:
        cols = ", ".join(quote_ident(c) for c in self.columns)
        ph = ", ".join(["?"] * len(self.columns))
        return (
            f"INSERT INTO {quote_ident(self.staging_name())} ({cols}) "
            f"VALUES ({ph})"
        )

    def merge_sql(self, mode: str = "insert") -> str:
        """INSERT ... SELECT DISTINCT ON key ... ON CONFLICT DO
        NOTHING (cardano_block_dao.py:138-148), or with
        ``mode="upsert"`` DO UPDATE SET (the incremental-
        materialized-view twin of ParquetMergeSink.merge(upsert)).

        The staging dedup window orders by the NON-key columns, so the
        surviving row among same-key staging rows is deterministic
        (smallest non-key tuple under the engine's default sort) —
        same contract as :func:`dedup_by_key` on the parquet sink."""
        if mode not in ("insert", "upsert"):
            raise ValueError(f"mode must be insert|upsert, got {mode!r}")
        cols = ", ".join(quote_ident(c) for c in self.columns)
        keys = ", ".join(quote_ident(k) for k in self.keys)
        non_keys = [c for c in self.columns if c not in self.keys]
        # NULLS FIRST matches Spark's ascending default, so this sink
        # and ParquetMergeSink's dedup_by_key pick the SAME survivor
        # for same-key rows with NULL non-key values (SQL's default
        # ASC is NULLS LAST on PG/DuckDB — they would diverge)
        order = (
            ", ".join(f"{quote_ident(c)} NULLS FIRST" for c in non_keys)
            if non_keys
            else keys
        )
        if mode == "insert":
            conflict = "DO NOTHING"
        elif not non_keys:
            conflict = "DO NOTHING"  # key-only table: nothing to update
        else:
            sets = ", ".join(
                f"{quote_ident(c)} = excluded.{quote_ident(c)}"
                for c in non_keys
            )
            conflict = f"DO UPDATE SET {sets}"
        return (
            f"INSERT INTO {quote_ident(self.table)} ({cols}) "
            f"SELECT {cols} FROM ("
            f"  SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY {order}) AS rn"
            f"  FROM {quote_ident(self.staging_name())}"
            f") dedup WHERE rn = 1 "
            f"ON CONFLICT ({keys}) {conflict}"
        )

    def drop_staging_sql(self) -> str:
        return f"DROP TABLE IF EXISTS {quote_ident(self.staging_name())}"

    def merge(
        self,
        df: DataFrame,
        watermark_sql: str | None = None,
        via_driver: bool = False,
        mode: str = "insert",
    ) -> None:
        """Stage rows, then run merge (+ optional watermark update)
        in one driver transaction. ``mode="upsert"`` replaces
        same-key rows (ON CONFLICT DO UPDATE) instead of skipping
        them.

        ``via_driver=True`` streams rows through the driver
        (``toLocalIterator`` consumed in fixed-size chunks — memory
        bounded by the chunk, never the frame) for databases that
        allow only one writing process (single-file duckdb/sqlite in
        tests). Real servers keep the default executor-side
        ``foreachPartition`` path.
        """
        cols = self.columns
        factory = self.connection_factory
        insert = self.insert_sql()
        copy_fn = self.copy_partition
        copy_stmt = pg_copy_sql(self.staging_name(), cols)

        con = factory()
        cur = con.cursor() if hasattr(con, "cursor") else con
        cur.execute(self.drop_staging_sql())
        cur.execute(self.create_staging_sql())

        def write_rows(conn, rows) -> None:
            batch = [tuple(r[col] for col in cols) for r in rows]
            if not batch:
                return
            if copy_fn is not None:
                payload = "".join(
                    encode_copy_text_row(b) + "\n" for b in batch
                )
                copy_fn(conn, copy_stmt, payload)
                return
            k = conn.cursor() if hasattr(conn, "cursor") else conn
            k.executemany(insert, batch)

        if via_driver:
            import itertools

            it = df.toLocalIterator()
            while True:
                chunk = list(itertools.islice(it, 10_000))
                if not chunk:
                    break
                write_rows(con, chunk)
        else:

            def write_partition(rows) -> None:
                c = factory()
                write_rows(c, rows)
                if hasattr(c, "commit"):
                    c.commit()

            # staging_parallelism (when set) bounds concurrent DB
            # connections; the None default writes all partitions.
            staged = (
                df
                if self.staging_parallelism is None
                else df.coalesce(self.staging_parallelism)
            )
            staged.foreachPartition(write_partition)

        try:
            if hasattr(con, "begin"):
                con.begin()
            cur.execute(self.merge_sql(mode))
            if watermark_sql:
                cur.execute(watermark_sql)
            if hasattr(con, "commit"):
                con.commit()
        finally:
            cur.execute(self.drop_staging_sql())
            if hasattr(con, "commit"):
                con.commit()
