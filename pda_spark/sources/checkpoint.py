"""Stage checkpoints with per-partition lineage + metrics, resumable.

BASELINE north_rule: "every stage checkpoints ... with per-partition
lineage and row/byte metrics so the pipeline is resumable mid-run."

Production target is Iceberg (`CREATE TABLE ... USING iceberg`,
``MERGE INTO`` for idempotency — SURVEY §2.1 S7/S11); the Iceberg runtime
jar is not available in this sandbox, so the same contract is implemented
on parquet directories plus an atomic JSON manifest:

- a stage directory ``<base>/<name>/data/*.parquet`` holds the rows;
- ``<base>/<name>/manifest.json`` is written LAST (tmp + rename) and is
  the commit marker — a stage without a readable manifest is incomplete
  and recomputed on resume;
- the manifest records schema, total rows, one ``partitions`` entry
  (file, rows) per data file, since each file is one write task's output,
  per-file byte sizes and parent stage names (lineage). Row counts come
  from the parquet footers of the files just written
  (``pyarrow.parquet.read_metadata``), as Iceberg manifests keep per-file
  counts, so a commit runs no Spark job besides the write itself;
- every re-read declares its schema (the written frame's, which Spark
  makes nullable as its inference would, or the committed manifest's),
  so neither a commit nor a ``read()`` runs Spark's footer-inference
  job, and a directory whose files differ in schema reads the same way
  whatever order Spark lists them in.

Idempotent writes (the reference's ``ON CONFLICT DO NOTHING``,
/root/reference/database/db.py:65-70) are ``merge_append``: new rows are
anti-joined against existing keys before appending — re-running an ingest
of the same data is a no-op, verified by tests/test_ingest.py.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: str, run_id: str | None = None):
        self.spark = spark
        self.base = base_dir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(base_dir, exist_ok=True)

    # ------------------------------------------------------------ paths
    def _dir(self, name: str) -> str:
        return os.path.join(self.base, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "manifest.json")

    def _committed(self, name: str) -> dict:
        """The stage's manifest if it is committed, else ``{}``."""
        try:
            with open(self._manifest_path(name)) as f:
                m = json.load(f)
        except (OSError, json.JSONDecodeError):
            return {}
        return m if m.get("status") == "committed" else {}

    def is_complete(self, name: str) -> bool:
        return bool(self._committed(name))

    def manifest(self, name: str) -> dict:
        with open(self._manifest_path(name)) as f:
            return json.load(f)

    def _table_name(self, name: str) -> str:
        # readable prefix + collision-proof digest: sanitizing alone maps
        # distinct stage names ('a-b' vs 'a_b') to one identifier, and a
        # catalog hit on the WRONG stage would silently serve its rows
        import hashlib

        safe = "".join(c if c.isalnum() else "_" for c in name)[:32]
        digest = hashlib.md5(f"{self.base}\x00{name}".encode()).hexdigest()[:10]
        return f"ckpt_{safe}_{digest}"

    def _reread(self, data_dir: str, schema: T.StructType) -> DataFrame:
        """The parquet files under ``data_dir`` read with a declared
        schema, which Spark makes nullable as its inference would: no
        footer-inference job, and the same columns whichever file Spark
        lists first."""
        return self.spark.read.schema(schema).parquet(data_dir)

    def read(self, name: str) -> DataFrame:
        """Read a committed stage under its manifest's schema; runs no
        Spark job. Bucketed stages come back THROUGH the catalog so the
        bucket spec survives into join planning — on a fresh session
        (resume) the table is re-registered over the existing files from
        the manifest's recorded spec, so the Exchange-free co-located
        join works across restarts, not just in the writing session."""
        m = self._committed(name)
        if not m:
            raise ValueError(f"checkpoint stage {name!r} under {self.base} is not committed")
        data_dir = os.path.join(self._dir(name), "data")
        schema = T.StructType.fromJson(m["schema"])
        spec = m.get("cluster_by")
        if not spec:
            return self._reread(data_dir, schema)
        tbl = self._table_name(name)
        if not self.spark.catalog.tableExists(tbl):
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
            self.spark.sql(
                f"CREATE TABLE {tbl} ({cols}) USING parquet "
                f"CLUSTERED BY (`{spec['col']}`) SORTED BY (`{spec['col']}`) "
                f"INTO {spec['buckets']} BUCKETS LOCATION '{data_dir}'"
            )
        return self.spark.table(tbl)

    # ------------------------------------------------------------ write
    @staticmethod
    def _collect_metrics(data_dir: str) -> dict:
        """Rows, one ``partitions`` entry per data file (each is one write
        task's output) and per-file bytes, from the files' parquet
        footers: no Spark job. Paths with a component starting with ``_``
        or ``.`` are skipped, as Spark's reader skips them: a write killed
        mid-commit can leave task files under ``_temporary/``."""
        paths = []
        for root, dirs, names in os.walk(data_dir):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            paths += [
                os.path.relpath(os.path.join(root, n), data_dir)
                for n in names
                if n.endswith(".parquet") and not n.startswith(("_", "."))
            ]
        paths.sort()
        files, partitions = [], []
        for i, rel in enumerate(paths):
            p = os.path.join(data_dir, rel)
            files.append({"file": rel, "bytes": os.path.getsize(p)})
            partitions.append({"partition": i, "file": rel, "rows": pq.read_metadata(p).num_rows})
        return {
            "rows": sum(p["rows"] for p in partitions),
            "partitions": partitions,
            "files": files,
            "bytes": sum(f["bytes"] for f in files),
        }

    def _sweep_stale(self, name: str) -> None:
        """GC orphaned swap directories (ADVICE r5): a kill mid-swap in
        ``merge_upsert`` can leak ``data.staging.*`` / ``data.old.*``
        siblings (the swapping-status manifest already makes the resume
        REBUILD correct — this only reclaims the disk). Safe at entry of
        any writer: the single-writer-per-stage contract means no swap
        is in flight for this stage when a new write begins."""
        import shutil

        stage_dir = self._dir(name)
        if not os.path.isdir(stage_dir):
            return
        for entry in os.listdir(stage_dir):
            if ".staging." in entry or ".old." in entry:
                shutil.rmtree(os.path.join(stage_dir, entry), ignore_errors=True)

    def _commit(self, name: str, payload: dict) -> None:
        tmp = self._manifest_path(name) + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=2, sort_keys=True)
        os.replace(tmp, self._manifest_path(name))

    def _parent_fingerprint(self, parents: list[str] | None) -> dict:
        """Lineage fingerprint: parent row counts. A stage is stale (and
        recomputed on resume) if any parent grew since it committed —
        keeps incremental appends flowing downstream. Row count is a
        faithful version for merge_append stages (append-only, keyed);
        a no-op resume re-commits manifests without changing rows, which
        must NOT invalidate children."""
        fp = {}
        for p in parents or []:
            m = self._committed(p)
            if m:
                fp[p] = {"rows": m.get("rows")}
        return fp

    def write_stage(
        self,
        df: DataFrame,
        name: str,
        parents: list[str] | None = None,
        mode: str = "overwrite",
        cluster_by: tuple[str, int] | None = None,
    ) -> DataFrame:
        """Materialize a stage and commit its manifest; returns the
        re-read DataFrame (downstream stages read the checkpoint, so a
        resumed run is plan-identical to a fresh one). The only Spark jobs
        are the write's: the manifest's row counts come from the written
        files' parquet footers, one ``partitions`` entry per file, and the
        re-read declares ``df``'s schema (made nullable by Spark, as its
        footer inference would).

        ``cluster_by=(col, n_buckets)``: land the stage bucketed+sorted
        by ``col`` (Iceberg's ``CLUSTERED BY`` on the parquet substitute)
        — the default layout for cell-keyed fact tables, so downstream
        cell-equi-joins between co-bucketed stages carry NO Exchange
        (tests/test_bucketed_join.py shape as the checkpoint default,
        VERDICT r4 #8). The spec is recorded in the manifest and
        re-registered on resume."""
        self._sweep_stale(name)
        data_dir = os.path.join(self._dir(name), "data")
        if cluster_by is not None:
            col, n_buckets = cluster_by
            tbl = self._table_name(name)
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            (
                df.write.mode(mode)
                .bucketBy(n_buckets, col)
                .sortBy(col)
                .option("path", data_dir)
                .saveAsTable(tbl)
            )
            out = self.spark.table(tbl)
        else:
            df.write.mode(mode).parquet(data_dir)
            out = self._reread(data_dir, df.schema)
        self._commit(
            name,
            {
                "status": "committed",
                "stage": name,
                "run_id": self.run_id,
                "parents": parents or [],
                "parent_fingerprint": self._parent_fingerprint(parents),
                "schema": out.schema.jsonValue(),
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                **(
                    {"cluster_by": {"col": cluster_by[0], "buckets": cluster_by[1]}}
                    if cluster_by
                    else {}
                ),
                **self._collect_metrics(data_dir),
            },
        )
        return out

    def stage(
        self,
        name: str,
        build,
        parents: list[str] | None = None,
        cluster_by: tuple[str, int] | None = None,
    ) -> DataFrame:
        """Resume-aware stage: reuse the checkpoint if committed AND its
        parents are unchanged, else compute ``build()`` and commit."""
        m = self._committed(name)
        if m and m.get("parent_fingerprint", {}) == self._parent_fingerprint(parents):
            return self.read(name)
        return self.write_stage(build(), name, parents=parents, cluster_by=cluster_by)

    def _merge_swap(self, name: str, merged: DataFrame, prev: dict) -> None:
        """Atomic-enough replace of a stage's data dir with ``merged``
        (staging write + double rename). Crash safety (round-5 review):
        the manifest is demoted to ``status: swapping`` BEFORE the
        directory renames — a kill anywhere inside the swap leaves the
        stage not-complete, so a resumed ``stage()`` rebuilds instead of
        reading a dangling path, and the caller's final manifest commit
        re-commits. A ``cluster_by`` layout recorded by a prior
        ``write_stage`` is preserved: merged rows are re-written
        bucketed under the same spec and the catalog table re-registered
        (dropped first, never left stale over re-laid-out files)."""
        import shutil

        data_dir = os.path.join(self._dir(name), "data")
        spec = prev.get("cluster_by")
        staging = data_dir + f".staging.{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(staging)
        # demote the commit marker FIRST: from here until the final
        # _commit the stage is officially incomplete
        self._commit(name, {**prev, "status": "swapping"})
        self.spark.sql(f"DROP TABLE IF EXISTS {self._table_name(name)}")
        old = data_dir + f".old.{uuid.uuid4().hex[:8]}"
        os.rename(data_dir, old)
        if spec:
            remerged = self._reread(staging, merged.schema)
            (
                remerged.write.mode("overwrite")
                .bucketBy(spec["buckets"], spec["col"])
                .sortBy(spec["col"])
                .option("path", data_dir)
                .saveAsTable(self._table_name(name))
            )
            shutil.rmtree(staging, ignore_errors=True)
        else:
            os.rename(staging, data_dir)
        shutil.rmtree(old, ignore_errors=True)

    def _merge_write(
        self,
        name: str,
        key: str,
        merged: DataFrame,
        prev: dict,
        parents: list[str] | None,
    ) -> DataFrame:
        """Land ``merged`` as the stage's rows (through the crash-safe
        swap over a committed stage ``prev``, directly otherwise), commit
        a manifest that keeps ``prev``'s bucket spec and lineage, and
        return the stage through ``read``, so a preserved bucket spec
        comes back catalog-routed."""
        data_dir = os.path.join(self._dir(name), "data")
        if prev:
            self._merge_swap(name, merged, prev)
        else:
            merged.write.mode("overwrite").parquet(data_dir)
        schema = self._reread(data_dir, merged.schema).schema
        spec = prev.get("cluster_by")
        self._commit(
            name,
            {
                "status": "committed",
                "stage": name,
                "run_id": self.run_id,
                "parents": sorted(set((parents or []) + prev.get("parents", []))),
                "schema": schema.jsonValue(),
                "key": key,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                **({"cluster_by": spec} if spec else {}),
                **self._collect_metrics(data_dir),
            },
        )
        return self.read(name)

    def _align_for_merge(
        self, kept: DataFrame, incoming: DataFrame, evolve_schema: bool
    ) -> DataFrame:
        """Combine surviving existing rows with incoming rows. With
        ``evolve_schema`` the write-side ALTER-equivalent of the
        reference's alembic migrations (VERDICT r5 #4): columns present
        on only one side are null-filled on the other, and the stage's
        manifest schema is re-recorded WIDENED after the swap — the
        Spark-world mergeSchema-on-write story."""
        return kept.unionByName(incoming, allowMissingColumns=evolve_schema)

    def merge_upsert(
        self,
        df: DataFrame,
        name: str,
        key: str,
        parents: list[str] | None = None,
        evolve_schema: bool = False,
    ) -> DataFrame:
        """Iceberg ``MERGE INTO`` upsert semantics on the parquet
        substitute: WHEN MATCHED THEN UPDATE (incoming row wins), WHEN
        NOT MATCHED THEN INSERT. Existing rows NOT matched by the source
        are kept unchanged — contrast ``merge_sync`` (deletes them) and
        ``merge_append`` (ON CONFLICT DO NOTHING: matched rows keep the
        EXISTING values). ``evolve_schema=True`` allows the incoming
        schema to add/drop columns (see ``_align_for_merge``)."""
        self._sweep_stale(name)
        incoming = df.dropDuplicates([key])
        prev = self._committed(name)
        merged = incoming
        if prev:
            kept = self.read(name).join(
                incoming.select(key), on=key, how="left_anti"
            )
            merged = self._align_for_merge(kept, incoming, evolve_schema)
        return self._merge_write(name, key, merged, prev, parents)

    def merge_sync(
        self,
        df: DataFrame,
        name: str,
        key: str,
        delete_condition=None,
        parents: list[str] | None = None,
        evolve_schema: bool = False,
    ) -> DataFrame:
        """Full-sync MERGE (VERDICT r5 #2/#4): WHEN MATCHED THEN UPDATE,
        WHEN NOT MATCHED THEN INSERT, WHEN NOT MATCHED BY SOURCE [AND
        ``delete_condition``] THEN DELETE — Iceberg's mirror-a-source
        pattern. ``delete_condition`` (a Column over existing rows)
        scopes the delete: existing rows not matched by the source are
        deleted only where it holds (e.g. only the partition being
        synced); rows where it is false survive unchanged. With the
        default ``None`` every unmatched existing row is deleted, i.e.
        the stage becomes exactly the (deduped) source — but still via
        the crash-safe staging swap, preserved bucket layout, and
        lineage-merging manifest commit."""
        self._sweep_stale(name)
        incoming = df.dropDuplicates([key])
        prev = self._committed(name)
        merged = incoming
        if prev and delete_condition is not None:
            unmatched = self.read(name).join(
                incoming.select(key), on=key, how="left_anti"
            )
            # SQL MERGE deletes only where the condition is TRUE; a NULL
            # condition (e.g. the scoping column is NULL) must KEEP the
            # row — bare ~cond filters NULLs out too (round-6 review)
            kept = unmatched.filter(~F.coalesce(delete_condition, F.lit(False)))
            merged = self._align_for_merge(kept, incoming, evolve_schema)
        return self._merge_write(name, key, merged, prev, parents)

    def merge_append(self, df: DataFrame, name: str, key: str, parents: list[str] | None = None) -> DataFrame:
        """Idempotent keyed append (ON CONFLICT DO NOTHING / Iceberg
        MERGE WHEN NOT MATCHED THEN INSERT). Duplicate keys *within* the
        incoming batch are also collapsed (source dedup, SURVEY S4)."""
        incoming = df.dropDuplicates([key])
        data_dir = os.path.join(self._dir(name), "data")
        prev = self._committed(name)
        if prev:
            existing_keys = self.read(name).select(key)
            fresh = incoming.join(existing_keys, on=key, how="left_anti")
            fresh.write.mode("append").parquet(data_dir)
            schema = T.StructType.fromJson(prev["schema"])
        else:
            incoming.write.mode("overwrite").parquet(data_dir)
            schema = incoming.schema
        out = self._reread(data_dir, schema)
        self._commit(
            name,
            {
                "status": "committed",
                "stage": name,
                "run_id": self.run_id,
                "parents": sorted(set((parents or []) + prev.get("parents", []))),
                "schema": out.schema.jsonValue(),
                "key": key,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                **self._collect_metrics(data_dir),
            },
        )
        return out
