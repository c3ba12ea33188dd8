"""Table catalog shim: Iceberg-shaped API over Parquet directories.

The engine's read/write boundary is table-format agnostic (SURVEY.md §7.0):
in production the catalog resolves to Iceberg tables (snapshot isolation,
MERGE INTO, partition evolution); in this sandbox the same call surface maps
to Parquet directories. Only this module would change to run on a real
Iceberg catalog — call sites never touch paths or formats.

Layout conventions for the 100TB design point are encoded here:
- transcripts partitioned by bucket(conv_id) so a conversation's turns
  co-locate (every per-conversation window shuffles once, at write time),
- triples partitioned by predicate (partition pruning for per-predicate
  scans, e.g. the metrics' scored-predicate restriction).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def with_lineage(df: DataFrame, run_id: str, stage: str) -> DataFrame:
    """Per-partition lineage + metrics columns (north rule): run id, stage,
    producing partition, and ingest timestamp — written with every output
    table so any partition can be traced to the run/stage that built it."""
    return (
        df.withColumn("lineage_run_id", F.lit(run_id))
        .withColumn("lineage_stage", F.lit(stage))
        .withColumn("lineage_partition", F.spark_partition_id())
        .withColumn("lineage_ts", F.current_timestamp())
    )


def partition_metrics(df_with_lineage: DataFrame) -> DataFrame:
    """rows-per-partition metrics table for a lineage-tagged DataFrame."""
    return df_with_lineage.groupBy(
        "lineage_run_id", "lineage_stage", "lineage_partition"
    ).agg(F.count("*").alias("rows_out"))


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        buckets: tuple[int, str] | None = None,
    ) -> None:
        """buckets=(n, col): hash-cluster rows by col into n files per
        partition (repartition on the column = the parquet analog of
        Iceberg's bucket transform)."""
        w = df
        if buckets:
            n, col = buckets
            w = df.repartition(n, col)
        writer = w.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(table))

    def append(self, df: DataFrame, table: str, **kw) -> None:
        self.write(df, table, mode="append", **kw)

    def write_transcripts(self, df: DataFrame, table: str = "transcripts", n_buckets: int = 32):
        self.write(df, table, buckets=(n_buckets, "conv_id"))

    def write_triples(self, df: DataFrame, table: str = "triples"):
        # partition by predicate: scans restricted to a predicate prune files
        self.write(df, table, partition_by=["predicate"])

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        n_buckets: int,
        bucket_col: str,
        sort_cols: list[str] | None = None,
    ) -> None:
        """True bucketed table (Hive bucketing metadata via saveAsTable):
        both sides of an equi-join bucketed on the join key with the same
        bucket count sort-merge-join with NO shuffle exchange — the parquet
        stand-in for Iceberg's bucket partition transform. `sort_cols`
        additionally pre-sorts each bucket file so the SMJ's sort is a no-op
        (e.g. transcripts bucketed by conv_id, sorted by turn_idx)."""
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, bucket_col)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.option("path", self.path(table)).saveAsTable(table)

    def write_zordered(
        self,
        df: DataFrame,
        table: str,
        zorder_cols: list[str],
        n_files: int = 32,
        bits: int = 16,
    ) -> None:
        """Z-order (Morton-curve) data layout: range-partition + sort the
        rows by the bit-interleaved z-value of `zorder_cols`, so EVERY
        z-ordered column has narrow per-file (and per-row-group) min/max
        ranges and parquet statistics prune scans filtered on ANY of them —
        a plain sort gives that to its leading column only. The parquet
        stand-in for Iceberg/Delta `zorder by`; at 100 TB this is the
        difference between a point-lookup touching a handful of row groups
        and touching every file.

        Each column is min-max scaled into [0, 2^bits) BEFORE interleaving
        (one tiny agg for the bounds): raw Morton codes are dominated by
        whichever column has the larger magnitude — a 0..14 user id next to
        a 0..10^9 event id contributes no high bits and gets no locality.
        Scaling gives every column equal weight in the curve, which is what
        Delta/Iceberg's ZORDER does with range-partition ids.

        One bounds agg + one range-exchange + in-partition sort; the
        z-value is a pure column expression (no UDF) and is NOT stored."""
        bounds = df.agg(
            *[F.min(c).cast("double").alias(f"mn_{c}") for c in zorder_cols],
            *[F.max(c).cast("double").alias(f"mx_{c}") for c in zorder_cols],
        ).first()
        scaled = []
        top = float((1 << bits) - 1)
        for c in zorder_cols:
            mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
            span = (mx - mn) or 1.0
            scaled.append(
                F.floor((F.col(c).cast("double") - F.lit(mn)) * top / F.lit(span))
            )
        zv = zorder_value(*scaled, bits=bits)
        (
            df.withColumn("__z", zv)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("overwrite")
            .parquet(self.path(table))
        )

    def read_bucketed(self, table: str) -> DataFrame:
        """Read through the session catalog — required so Spark sees the
        bucketing metadata (a plain parquet read of the same files would
        re-shuffle on join)."""
        return self.spark.table(table)

    def merge_upsert(
        self,
        delta: DataFrame,
        table: str,
        keys: list[str],
        partition_col: str | None = None,
    ) -> None:
        """Iceberg MERGE INTO stand-in: existing rows not matching the delta
        keys are kept, matched keys are replaced (S10 incremental update).

        With `partition_col` (a column the table was written partitionBy-ed
        on), the merge is PARTITION-PRUNED: only partitions containing delta
        rows are read and rewritten via dynamic partition overwrite —
        untouched partition files stay byte-identical, matching Iceberg's
        copy-on-write MERGE granularity. At 100TB a delta touching 3
        partitions rewrites 3 directories, not the table.

        Pruning is only sound when a key cannot MOVE between partitions —
        otherwise the stale row in an untouched partition would survive the
        merge and the table would hold duplicate keys (real MERGE INTO
        matches it). That holds exactly when `partition_col` is one of
        `keys` (the partition value is then part of the key's identity), so
        the pruned path requires it; a partition_col outside the keys falls
        back to the full (unpruned) merge, which still preserves the
        partition layout on rewrite.
        """
        if not self.exists(table):
            if partition_col:
                self.write(delta, table, partition_by=[partition_col])
            else:
                self.write(delta, table)
            return
        if partition_col is None or partition_col not in keys:
            current = self.read(table)
            kept = current.join(delta.select(*keys).dropDuplicates(), keys, "left_anti")
            merged = kept.unionByName(delta.select(*kept.columns))
            self._replace(
                merged, table, [partition_col] if partition_col else None
            )
            return
        touched = [
            r[0] for r in delta.select(partition_col).dropDuplicates().collect()
        ]
        # the partition filter prunes at the file listing — only touched
        # directories are ever read
        current = self.read(table).filter(F.col(partition_col).isin(touched))
        kept = current.join(delta.select(*keys).dropDuplicates(), keys, "left_anti")
        merged = kept.unionByName(delta.select(*kept.columns))
        # materialize BEFORE overwriting the directories the plan reads from
        merged = merged.localCheckpoint(eager=True)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(self.path(table))
        )

    def _replace(
        self, df: DataFrame, table: str, partition_by: list[str] | None
    ) -> None:
        """Replace `table` by `df`, which may read `table`: write `df` to
        `<table>__tmp`, then swap the directories by rename (parquet has no
        snapshot isolation). A write that fails leaves the table as it was;
        the swap itself is two renames, the only window in which the table
        is missing (it then sits under `<table>__old`)."""
        tmp, old = table + "__tmp", table + "__old"
        self.write(df, tmp, partition_by=partition_by)
        self.drop(old)
        os.rename(self.path(table), self.path(old))
        os.rename(self.path(tmp), self.path(table))
        self.drop(old)

    def drop(self, table: str) -> None:
        import shutil

        p = self.path(table)
        if os.path.isdir(p):
            shutil.rmtree(p)


class VersionedCatalog(Catalog):
    """Snapshot semantics over the parquet shim — the Iceberg-shaped subset
    the engine relies on (snapshot isolation for readers, time-travel reads,
    rollback), emulated with immutable per-version directories and a tiny
    JSON manifest, so the call surface matches what an Iceberg catalog
    provides and only this class swaps out on a real deployment.

    Layout: <root>/<table>/v=<N>/part-*.parquet + _manifest.json.
    Writers never mutate a published version; `read` resolves the newest
    manifest unless pinned — concurrent readers keep their snapshot.
    """

    def _versions(self, table: str) -> list[int]:
        base = self.path(table)
        if not os.path.isdir(base):
            return []
        out = []
        for d in os.listdir(base):
            if d.startswith("v=") and os.path.exists(
                os.path.join(base, d, "_manifest.json")
            ):
                out.append(int(d[2:]))
        return sorted(out)

    def exists(self, table: str) -> bool:
        return bool(self._versions(table))

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        buckets: tuple[int, str] | None = None,
    ) -> int:
        """Publish a new snapshot; returns its version id. `mode="append"`
        unions the previous snapshot (copy-on-write, like Iceberg append
        rewritten through the table API). ``partition_by``/``buckets`` are
        honored inside the snapshot directory, so inherited helpers like
        write_triples keep their predicate partition pruning."""
        import json as _json

        vs = self._versions(table)
        new_v = (vs[-1] + 1) if vs else 0
        if mode == "append" and vs:
            df = self.read(table).unionByName(df)
        vdir = os.path.join(self.path(table), f"v={new_v}")
        w = df
        if buckets:
            n, col = buckets
            w = df.repartition(n, col)
        writer = w.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(vdir)
        n = self.spark.read.parquet(vdir).count()
        with open(os.path.join(vdir, "_manifest.json"), "w", encoding="utf-8") as f:
            _json.dump({"version": new_v, "rows": n, "table": table}, f)
        return new_v

    def _replace(
        self, df: DataFrame, table: str, partition_by: list[str] | None
    ) -> None:
        """A merge publishes a new snapshot: the version it reads stays
        untouched, so no temporary table or swap is needed, and the
        table's history is kept."""
        self.write(df, table, partition_by=partition_by)

    def read(self, table: str, version: int | None = None) -> DataFrame:
        vs = self._versions(table)
        if not vs:
            raise FileNotFoundError(f"no snapshots for table {table!r}")
        v = vs[-1] if version is None else version
        if v not in vs:
            raise FileNotFoundError(f"snapshot v={v} not found for {table!r}")
        return self.spark.read.parquet(os.path.join(self.path(table), f"v={v}"))

    def history(self, table: str) -> list[dict]:
        import json as _json

        out = []
        for v in self._versions(table):
            with open(
                os.path.join(self.path(table), f"v={v}", "_manifest.json"),
                encoding="utf-8",
            ) as f:
                out.append(_json.load(f))
        return out

    def rollback(self, table: str, version: int) -> int:
        """Publish a new snapshot whose content is an old one (Iceberg-style
        rollback: history is preserved, the head moves)."""
        return self.write(self.read(table, version=version), table)

    def expire_snapshots(
        self, table: str, keep_last: int = 2, protect: tuple[int, ...] = ()
    ) -> list[int]:
        """Iceberg `expire_snapshots` analog: unlink all but the newest
        `keep_last` versions (plus any pinned in `protect`); the head can
        never expire. Returns the removed version ids. Expiration is
        storage reclaim, not visibility control — run with a retention
        window longer than the longest in-flight reader, exactly like
        Iceberg's retention guidance. Snapshot dirs are immutable, so
        removal needs no coordination with writers."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self._versions(table)
        keep = set(vs[-keep_last:]) | set(protect)
        removed = [v for v in vs if v not in keep]
        for v in removed:
            shutil.rmtree(os.path.join(self.path(table), f"v={v}"))
        return removed

    def compact(self, table: str, target_files: int = 1) -> int:
        """`rewrite_data_files` analog: republish the head snapshot's
        content coalesced to `target_files` parquet files and return the
        new version id. Bounds the small-file count that per-batch appends
        accumulate (the streaming-dedup index problem); pair with
        expire_snapshots to reclaim the fragmented predecessors. coalesce()
        is a narrow dependency — no shuffle, each output file unions whole
        input files."""
        if target_files < 1:
            raise ValueError("target_files must be >= 1")
        return self.write(self.read(table).coalesce(target_files), table)


def zorder_value(*cols, bits: int = 16):
    """Morton z-value of n integer columns: bit j of column i lands at
    output bit (j·n + i). Columns are folded into [0, 2^bits) with pmod
    first (hash high-cardinality or negative keys upstream if locality on
    raw magnitude is wanted). Pure shift/mask expression tree — whole-stage
    codegen, no UDF; 2 cols × 16 bits = a 32-term integer sum."""
    n = len(cols)
    if n == 0:
        raise ValueError("zorder_value needs at least one column")
    terms = []
    for i, c in enumerate(cols):
        v = F.pmod(c.cast("long"), F.lit(1 << bits))
        for j in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftrightunsigned(v, j).bitwiseAND(F.lit(1)), j * n + i
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("long")


def snapshot_diff(
    catalog: "VersionedCatalog",
    table: str,
    keys: list[str],
    v_old: int,
    v_new: int,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two published snapshots — the
    "what changed between KG build N and N+1" readout (Iceberg's
    changelog scan, expressed over the versioned parquet shim): per key,
    one of `added` / `removed` / `changed` (any compared column differs)
    with both sides' column values carried as `<col>_old` / `<col>_new`.
    Unchanged keys are absent — the diff is the delta, not the table.

    Requires `keys` to be unique per snapshot (the same invariant
    merge_upsert maintains); duplicate-key snapshots make "changed"
    ill-defined and this surfaces as a row-count blowup the caller owns.

    Scale shape: ONE full-outer key join between the two snapshot reads
    (both partition-pruned as written); change classification is a null-
    safe map-side expression (`<=>` so NULL→value and value→NULL count as
    changes); no windows, no collects. Both snapshot reads stay
    time-travel-pinned, so the diff is stable under concurrent writers.
    """
    old = catalog.read(table, version=v_old)
    new = catalog.read(table, version=v_new)
    compare_cols = compare_cols or [c for c in old.columns if c not in keys]
    o = old.select(
        *[F.col(k).alias(f"__k{i}") for i, k in enumerate(keys)],
        *[F.col(c).alias(f"{c}_old") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__k{i}") for i, k in enumerate(keys)],
        *[F.col(c).alias(f"{c}_new") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    kcols = [f"__k{i}" for i in range(len(keys))]
    j = o.join(n, kcols, "full_outer")
    changed = None
    for c in compare_cols:
        neq = ~F.col(f"{c}_old").eqNullSafe(F.col(f"{c}_new"))
        changed = neq if changed is None else (changed | neq)
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            *[F.col(f"__k{i}").alias(k) for i, k in enumerate(keys)],
            "status",
            *[F.col(f"{c}_old") for c in compare_cols],
            *[F.col(f"{c}_new") for c in compare_cols],
        )
    )


def partition_checksums(
    df: DataFrame,
    part_col: str,
    cols: list[str] | None = None,
) -> DataFrame:
    """Order-independent content checksums per partition — the integrity
    manifest for replication/migration validation ("does the copied table
    match?") without sorting either side: per partition, the row count and
    the SUM of per-row md5-derived 32-bit integers over the canonical
    '|'-joined column rendering. Sums are order-independent and mergeable
    (a partition's checksum is the sum of its files' checksums), and two
    tables agree iff every (partition, n_rows, checksum) row agrees —
    modulo the 2^-32-per-row collision bound, the standard trade for an
    unordered checksum.

    NULLs render as the literal 'NULL' — indistinguishable from a real
    "NULL" string by design trade-off; callers with adversarial string
    domains add a type/flag prefix column. Column order is the caller's
    `cols` list — pin it in the manifest.

    Map-side hash + ONE combinable groupBy; no sort anywhere.
    """
    cols = cols or [c for c in df.columns if c != part_col]
    rendered = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("NULL")) for c in cols]
    )
    h = F.conv(F.substring(F.md5(rendered), 1, 8), 16, 10).cast("long")
    return (
        df.groupBy(F.col(part_col).alias("partition"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(h).cast("long").alias("checksum"),
        )
    )
