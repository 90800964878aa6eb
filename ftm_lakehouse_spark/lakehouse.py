"""Lakehouse: the top-level repository facade.

Mirrors the reference's EntityRepository surface
(/root/reference/ftm_lakehouse/repository/entities/main.py) on Spark:

    lake = Lakehouse(spark, root)
    ds = lake.dataset("donations")               # get-or-create
    ds.write_entities(entities_df, origin="bulk")
    ds.merge()                                    # canonicalize
    ds.entities(Query().where(schema="Person"))   # assembled entities
    ds.delete_entity("jane")                      # tombstone
    ds.diff(since)                                # ADD/MOD/DEL envelopes

The reference's SQL write-ahead journal is gone by design: parquet
appends through Spark's committer are already atomic-per-job, and the
journal's in-window dedup semantic is covered by the merge
(SURVEY §3.2 — crash-safe buffering and dedup were the only semantics
worth keeping). A streaming ingest mode lives in
:mod:`ftm_lakehouse_spark.streaming.journal`.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftm_lakehouse_spark.model.dataset import DatasetConfig, validate_origin
from ftm_lakehouse_spark.model.statement import (
    CSV_COLUMNS,
    STATEMENT_SCHEMA,
)
from ftm_lakehouse_spark.operators.aggregate import assemble_entities
from ftm_lakehouse_spark.operators.explode import ENTITY_SCHEMA, explode_entities
from ftm_lakehouse_spark.plans.query import Query
from ftm_lakehouse_spark.sources.statement_store import StatementStore

__all__ = ["Lakehouse", "Dataset"]


class Dataset:
    def __init__(self, spark: SparkSession, root: str, config: DatasetConfig):
        from ftm_lakehouse_spark.sources.fs import get_fs
        from ftm_lakehouse_spark.sources.versions import VersionStore

        self.spark = spark
        self.config = config
        self._fs = get_fs(root, spark)
        self.path = self._fs.join(root, config.name)
        self.store = StatementStore(spark, self.path, config)
        self.versions = VersionStore(
            self._fs.join(self.path, "_meta", "versions"), spark
        )
        # persisted operation-run history (reference JobRepository,
        # repository/job.py:18-119): one JSON record per run under
        # _meta/jobs/<name>/<run_id>.json
        from ftm_lakehouse_spark.jobs import JobStore

        self.jobs = JobStore(self._fs.join(self.path, "_meta", "jobs"), spark)
        # Spark-free point-lookup serving path (see serving.py); lazy
        # per-version snapshot cache, safe to hold for the Dataset's life
        from ftm_lakehouse_spark.serving import PointReader

        self._point_reader = PointReader(self.store)

    # --------------------------------------------------------- writes
    def write_statements(self, df: DataFrame) -> None:
        """Append raw statement rows (already in STATEMENT_SCHEMA)."""
        self.store.append(df)

    def write_entities(
        self,
        entities: DataFrame,
        origin: str = "default",
        fragment: str = "",
        seen=None,
    ) -> None:
        """Explode FtM entities to statements and append. In-batch
        dedupe keeps the last row per (id, fragment, origin) like the
        reference's RowBuffer (logic/entities/buffer.py:23-139)."""
        validate_origin(origin)
        stmts = explode_entities(
            entities,
            dataset=self.config.name,
            origin=origin,
            shards=self.config.shards,
            seen=seen,
            fragment=fragment,
        ).dropDuplicates(["id", "fragment", "origin"])
        # the single-pass append executes the exploded+deduped statement
        # plan exactly once, inside the stage write job (round-12,
        # guide §1.2) — no discovery pass, no checkpoint
        self.store.append(stmts)

    def write_entities_json(self, path: str, origin: str = "default", **kw) -> None:
        """Ingest an entities.ftm.json lines file (S8)."""
        raw = self.spark.read.schema(ENTITY_SCHEMA).json(path)
        self.write_entities(raw, origin=origin, **kw)

    def delete_entity(self, entity_id: str, origin: str | None = None) -> None:
        """Soft delete: append tombstone copies of the entity's current
        rows with ``deleted_at`` set and ``last_seen`` bumped to the
        delete time so the tombstone wins the merge tiebreak
        (reference repository/entities/main.py:210-215,439-463)."""
        now = datetime.now(timezone.utc).replace(microsecond=0)
        rows = self.store.live().filter(F.col("entity_id") == entity_id)
        if origin is not None:
            rows = rows.filter(F.col("origin") == origin)
        tombstones = rows.select(*STATEMENT_SCHEMA.fieldNames()).withColumns(
            {
                "deleted_at": F.lit(now),
                "last_seen": F.lit(now),
            }
        )
        self.store.append(tombstones)

    # ---------------------------------------------------------- reads
    def statements(self, q: Query | None = None, as_of: int | None = None) -> DataFrame:
        """Live statements, optionally time-traveled: ``as_of`` reads
        the table at a past commit version (Delta ``versionAsOf``; the
        reference rides delta-rs for this, repository/diff.py:62-83) —
        readable for as long as vacuum's retention keeps the files."""
        live = self.store.live(as_of=as_of)
        return q.apply_rows(live) if q else live

    def entities(self, q: Query | None = None, as_of: int | None = None) -> DataFrame:
        live = self.store.live(as_of=as_of)
        scoped = q.apply_statements(live) if q else live
        return assemble_entities(scoped)

    @property
    def version(self) -> int:
        """Current commit version (the time-travel / diff cursor)."""
        return self.store.commits.current_version()

    def get(
        self,
        entity_id: str,
        engine: str = "auto",
        as_of: int | None = None,
    ) -> dict | None:
        """Point lookup (reference storage/parquet.py:276-292 behind
        api/routes/entities.py:34-49).

        ``engine="auto"`` (default) serves from the store's own parquet
        + commit log via a driver-side pyarrow read — no Spark job —
        because a per-get Spark job floors at ~678 ms warm
        (SCALE.md §7) while the reference's interactive DuckDB path is
        single-digit ms; see :mod:`ftm_lakehouse_spark.serving`. Any
        failure of the direct path (store on a filesystem pyarrow can't
        open, schema drift) falls back to the Spark path, which stays
        the semantic source of truth (``engine="spark"`` forces it;
        tests hash-compare both).

        ``as_of`` reads the entity at a past commit version (MVCC time
        travel, both engines) — a serving caller pins one version
        across many gets for a consistent snapshot during concurrent
        rewrites."""
        from ftm_lakehouse_spark.sources.commits import LogTruncated

        if engine not in ("auto", "spark", "direct"):
            raise ValueError(f"unknown engine {engine!r}")
        if engine != "spark":
            try:
                return self._point_reader.get(entity_id, as_of=as_of)
            except LogTruncated:
                # authoritative: the pinned version is out of retention
                # on BOTH engines — falling back would just re-fail
                raise
            except Exception:
                if engine == "direct":
                    raise
        from ftm_lakehouse_spark.model.statement import entity_shard

        rows = self.store.live(as_of=as_of).filter(
            (F.col("shard") == entity_shard(F.lit(entity_id), self.config.shards))
            & (F.col("entity_id") == entity_id)
        )
        try:
            out = assemble_entities(rows).collect()
        except Exception as e:
            self._spark_time_travel_guard(
                as_of, e,
                verify=lambda: self._pinned_snapshot_vacuumed(as_of),
            )
            raise
        return out[0].asDict(recursive=True) if out else None

    #: fragments by which Spark versions/filesystems surface a read of
    #: a vacuumed file: the Spark 4 errorClass, the wrapped Java
    #: exception (DSv1 scans, task-side failures), and the phrasing
    #: older AnalysisExceptions / Hadoop FS stacks use. Matched
    #: case-insensitively against the stringified exception chain.
    #: deliberately FILE-scoped: a bare "does not exist" would also
    #: match missing-bucket/missing-table analysis errors and convert a
    #: transient/config server fault into a permanent 410
    _MISSING_FILE_MARKERS = (
        "path_not_found",
        "path does not exist",
        "filenotfoundexception",
        "no such file",
        "file does not exist",
        # Spark 4 task-side condition (probed r12: today it reaches
        # Python as a Py4JJavaError with condition=None and the text
        # path catches it via "file does not exist"; if a future
        # PySpark structures it, the authoritative branch must still
        # classify it as a missing file)
        "file_not_exist",
    )

    def _pinned_snapshot_vacuumed(self, as_of: int) -> bool:
        """Confirm via the commit log that the snapshot pinned at
        ``as_of`` really does reference data files vacuum has removed
        (round-12 ADVICE: a text-matched missing-file phrase alone can
        be a transient storage/executor error merely QUOTING the
        spelling — converting that to a permanent 410 would make a
        retryable fault terminal). Authoritative answers:

        * the log itself raises ``LogTruncated`` replaying ``as_of``
          → truncated, True;
        * a referenced data file is absent from storage → vacuumed,
          True (bounded existence probe: vacuum removes a pinned
          version's files wholesale, so a capped scan finds a hole);
        * everything verifies present, or the check itself fails →
          False — the original error stays a retryable 500."""
        from ftm_lakehouse_spark.sources.commits import LogTruncated

        try:
            files = self.store.commits.snapshot(as_of)
        except LogTruncated:
            return True
        except Exception:
            return False
        try:
            fs = self._fs
            data = self.store._data_path()
            for f in files[:256]:
                if not fs.exists(fs.join(data, f)):
                    return True
        except Exception:
            return False
        return False

    @staticmethod
    def _spark_time_travel_guard(
        as_of: int | None,
        exc: Exception,
        verify: Callable[[], bool] | None = None,
    ) -> None:
        """Map a pinned-version Spark read failing on vacuumed files to
        the typed LogTruncated error, same contract as the direct path.
        The Spark errorClass is authoritative when present (round-12
        ADVICE: a structured NON-file condition must not fall through
        to text matching — its message may merely quote a missing-file
        phrase); otherwise the exception CHAIN's text is matched
        against the known missing-file spellings (round-11 ADVICE:
        matching only 'PATH_NOT_FOUND' missed task-side java
        FileNotFoundException, turning a 410 into a generic 500), and
        a text hit is confirmed through ``verify`` (the commit-log
        check :meth:`_pinned_snapshot_vacuumed`) before the error
        becomes a permanent 410 — unverifiable stays a retryable 500."""
        if as_of is None:
            return
        from ftm_lakehouse_spark.sources.commits import LogTruncated

        def _truncated() -> None:
            raise LogTruncated(
                f"snapshot at version {as_of} references vacuumed data "
                f"files; time travel is bounded by the vacuum retention "
                f"window"
            ) from exc

        cond = getattr(exc, "getCondition", None) or getattr(
            exc, "getErrorClass", None
        )
        structured = ""
        if cond is not None:
            try:
                structured = str(cond() or "")
            except Exception:
                structured = ""
        if structured:
            # authoritative either way: a missing-file condition maps
            # to 410, any other condition is NOT a vacuumed-file read
            # no matter what phrases its message quotes
            if any(
                m in structured.lower() for m in Dataset._MISSING_FILE_MARKERS
            ):
                _truncated()
            return
        texts = []
        e: BaseException | None = exc
        while e is not None:
            texts.append(str(e))
            e = e.__cause__
        blob = " ".join(texts).lower()
        if any(m in blob for m in Dataset._MISSING_FILE_MARKERS):
            if verify is not None and not verify():
                return
            _truncated()

    def get_many(
        self,
        entity_ids: list[str],
        engine: str = "auto",
        as_of: int | None = None,
    ) -> dict[str, dict | None]:
        """Batch point lookup (hydration shape): one direct-path read
        per candidate file with an ``entity_id IN`` pushdown, all ids
        against ONE snapshot; same engine/fallback contract as
        :meth:`get`."""
        from ftm_lakehouse_spark.sources.commits import LogTruncated

        if engine not in ("auto", "spark", "direct"):
            raise ValueError(f"unknown engine {engine!r}")
        if engine != "spark":
            try:
                return self._point_reader.get_many(entity_ids, as_of=as_of)
            except LogTruncated:
                raise
            except Exception:
                if engine == "direct":
                    raise
        rows = self.store.live(as_of=as_of).filter(
            F.col("entity_id").isin(list(entity_ids))
        )
        try:
            collected = assemble_entities(rows).collect()
        except Exception as e:
            self._spark_time_travel_guard(
                as_of, e,
                verify=lambda: self._pinned_snapshot_vacuumed(as_of),
            )
            raise
        got = {r["entity_id"]: r.asDict(recursive=True) for r in collected}
        return {eid: got.get(eid) for eid in entity_ids}

    def count(self, q: Query | None = None) -> int:
        live = self.store.live()
        ids = q.matching_ids(live) if q else live.select("entity_id").distinct()
        return ids.count()

    def stats(self) -> dict:
        return self.store.stats()

    # ----------------------------------------------------- maintenance
    def merge(self, grace_days: int = 30, force: bool = False) -> bool:
        return self.store.merge(grace_days=grace_days, force=force)

    def restore(self, version: int) -> dict:
        """Roll the dataset's live statement table back (or forward) to
        its snapshot at commit ``version`` — the portable analog of the
        reference's ZFS snapshot rollback (core/zfs.py), realized as a
        Delta-style metadata-only RESTORE against the MVCC commit log
        (see StatementStore.restore). Restore reach is bounded by the
        vacuum retention window."""
        return self.store.restore(version)

    def export_delta(self) -> str:
        """Publish the store's current snapshot as a standard Delta
        transaction log inside the data directory (sources/
        delta_export.py) so external Delta readers can open the
        dataset; returns the log file path. Idempotent."""
        from ftm_lakehouse_spark.sources.delta_export import export_delta_log

        return export_delta_log(self.store)

    def optimize(
        self,
        grace_days: int = 30,
        force: bool = False,
        retention_hours: float = 168.0,
        zorder: tuple[str, ...] | None = None,
    ) -> None:
        """merge → compact → vacuum → publish a statistics snapshot
        (reference OptimizeOperation, operation/maintenance.py:28-49).
        Vacuum reaps files retired before the retention window — time
        travel inside the window stays readable (Delta semantics). The
        snapshot is checksum-deduped, so an optimize that changes
        nothing publishes nothing (reference versions store).

        ``zorder``: rewrite file layout on the interleaved key over the
        given columns (Delta ``OPTIMIZE ZORDER`` analog — see
        ``StatementStore.compact``), making footer stats selective on
        every listed dimension for ``scan_range`` pruning."""
        self.merge(grace_days=grace_days, force=force)
        self.store.compact(zorder=zorder)
        self.store.vacuum(retention_hours=retention_hours)
        self.versions.put("statistics", self.stats())

    # ----------------------------------------------------------- diffs
    def diff(self, since: datetime) -> DataFrame:
        """ADD/MOD/DEL envelopes for entities changed since ``since``
        (reference repository/diff.py:85-145). Canonical state is
        computed on the fly — no merge required first (I3).

        Returns columns: op (ADD|MOD|DEL), entity_id, entity (struct,
        null for DEL)."""
        canonical = self.store.canonical_changed(since)
        live = canonical.filter(F.col("deleted_at").isNull())
        assembled = assemble_entities(live)

        changed = self.store.changed_entity_ids(since)
        deleted = changed.join(
            live.select("entity_id").distinct(), "entity_id", "left_anti"
        )

        added_or_mod = assembled.withColumn(
            "op",
            F.when(F.col("first_seen") >= F.lit(since), F.lit("ADD")).otherwise(
                F.lit("MOD")
            ),
        ).select(
            "op",
            "entity_id",
            F.struct(
                "entity_id", "caption", "schema", "properties",
                "first_seen", "last_seen", "last_change",
            ).alias("entity"),
        )
        dels = deleted.select(
            F.lit("DEL").alias("op"),
            "entity_id",
            F.lit(None).cast(added_or_mod.schema["entity"].dataType).alias("entity"),
        )
        return added_or_mod.unionByName(dels)

    def export_diff(self, out_dir: str, since: datetime) -> None:
        """Write ADD/MOD/DEL envelopes as JSON lines (FIXTURES.md F6;
        reference repository/diff.py:16-21)."""
        (
            self.diff(since)
            .select(F.to_json(F.struct("op", "entity")).alias("line"))
            .write.mode("overwrite")
            .text(out_dir)
        )

    def documents(self, public_url_prefix: str | None = None) -> DataFrame:
        """Streamable document metadata over the archive-derived File
        entities (reference DocumentRepository.collect,
        repository/documents.py:88-117): one row per document × resolved
        folder path, columns ``id checksum name mimetype path size
        updated_at public_url``."""
        from ftm_lakehouse_spark.operators.documents import documents

        prefix = public_url_prefix or self._public_prefix()
        return documents(self.entities(), public_url_prefix=prefix)

    def index(self) -> dict | None:
        """The published index.json (reference catalog
        get_dataset_index) — None until the first make()."""
        p = self._fs.join(self.path, "exports", "index.json")
        if not self._fs.exists(p):
            return None
        return json.loads(self._fs.read_text(p))

    def _public_prefix(self) -> str | None:
        if not self.config.public_url_prefix:
            return None
        return self.config.public_url_prefix.format(dataset=self.config.name)

    @property
    def archive(self):
        """The dataset's content-addressed blob archive (reference
        archive repository; CLI ``crawl``/``head``/``download``)."""
        from ftm_lakehouse_spark.sources.archive import BlobArchive

        return BlobArchive(self._fs.join(self.path, "archive"))

    def crawl(self, src_dir: str, origin: str = "crawl", make_entities: bool = True) -> int:
        """Archive every file under ``src_dir`` and (optionally) ingest
        the Document/Folder entity tree (reference CLI ``crawl``,
        cli/crawl.py:15-33 → operation/crawl). Returns files archived."""
        from ftm_lakehouse_spark.sources.archive import crawl_to_entities

        files = self.archive.crawl(src_dir)
        if make_entities and files:
            self.write_entities(crawl_to_entities(self.spark, files), origin=origin)
        return len(files)

    def unlock(self) -> bool:
        """Forcibly release the commit-log lock file (reference CLI
        ``unlock``, cli/maintenance.py:130-144). Only meaningful when a
        LockClient is configured AND its holder died inside the lease;
        the default put-if-absent protocol takes no locks at all. Safe
        because commits re-validate with a read-back fence — breaking a
        live writer's lock degrades to a CommitConflict, never a
        corrupt log. No-op (False) if no lock file exists."""
        lock_path = self.store.commits.root.rstrip("/") + ".lock"
        if not self._fs.exists(lock_path):
            return False
        self._fs.delete(lock_path)
        return True

    def _has_documents(self) -> bool:
        """Reference export_csv short-circuit (documents.py:118-124):
        one cheap probe on the schema filter before any document work —
        file-skips on the clustered schema column."""
        from ftm_lakehouse_spark.operators.documents import DOCUMENT_SCHEMATA

        doc_schemas = [s for s in DOCUMENT_SCHEMATA if s != "Folder"]
        probe = (
            self.store.live()
            .filter(F.col("schema").isin(doc_schemas) & (F.col("prop") == "contentHash"))
            .take(1)
        )
        return bool(probe)

    def export_documents_csv(
        self, out_dir: str, compression: str | None = None
    ) -> bool:
        """documents.csv export (reference operation/export.py:118-120
        + repository/documents.py:118-131). Returns False when the
        dataset holds no documents (nothing written — the reference
        short-circuit)."""
        if not self._has_documents():
            return False
        df = self.documents().sort("id")
        codec, zst = self._resolve_codec(compression)
        df.write.mode("overwrite").option("header", True).option(
            "compression", codec
        ).csv(out_dir)
        if zst:
            self._recompress_zstd(out_dir)
        return True

    def _resource_entry(self, out_root: str, name: str, mime: str) -> dict | None:
        """index.json resource descriptor (reference
        helpers/dataset.py:10-38 make_resource → DataResource): name,
        url (public prefix or storage uri), size, sha256 checksum,
        timestamp, mime_type. Spark artifacts are part-file
        DIRECTORIES — size sums the parts and the checksum folds them
        in sorted order, so the value is deterministic for a given
        export."""
        import hashlib

        fs = self._fs
        p = fs.join(out_root, name)
        if not fs.exists(p):
            return None
        if fs.isdir(p):
            files = [
                fs.join(p, f)
                for f in fs.listdir(p)
                if f.startswith("part-") and not f.endswith(".crc")
            ]
        else:
            files = [p]
        h = hashlib.sha256()
        size = 0
        for f in files:
            # chunked: the checksum of a multi-GB artifact must not
            # materialize the file on the driver
            for chunk in fs.read_chunks(f):
                h.update(chunk)
            size += fs.filesize(f)
        prefix = self._public_prefix()
        url = f"{prefix.rstrip('/')}/{name}" if prefix else p
        return {
            "name": name,
            "url": url,
            "size": size,
            "checksum": h.hexdigest(),
            "checksum_algorithm": "sha256",
            "timestamp": datetime.now(timezone.utc).isoformat(),
            "mime_type": mime,
        }

    def make(self, out_root: str | None = None, force: bool = False) -> dict:
        """The full publish workflow (reference MakeOperation,
        operation/make.py:14-25): optimize, then regenerate every export
        artifact — statements.csv, entities.ftm.json, documents.csv
        (when the dataset holds documents), statistics.json, index.json
        — skipping everything if no write happened since the last make
        (freshness tags, reference operation/base.py:56-70)."""
        out_root = out_root or self._fs.join(self.path, "exports")
        if not force and self.store.tags.is_latest("last_made", ["last_updated"]):
            return {"skipped": True}
        self.optimize(force=force)
        self.export_statements_csv(self._fs.join(out_root, "statements.csv"))
        self.export_entities_json(self._fs.join(out_root, "entities.ftm.json"))
        docs_path = self._fs.join(out_root, "documents.csv")
        if not self.export_documents_csv(docs_path) and self._fs.exists(docs_path):
            # the dataset no longer holds documents: a previously
            # published documents.csv must not be re-advertised (it
            # would republish deleted content with a fresh checksum)
            self._fs.delete(docs_path)
        stats = self.stats()
        self._fs.write_text_atomic(
            self._fs.join(out_root, "statistics.json"),
            json.dumps(stats, default=str),
        )
        artifact_mimes = [
            ("statements.csv", "text/csv"),
            ("entities.ftm.json", "application/json+ftm"),
            ("documents.csv", "text/csv"),
            ("statistics.json", "application/json"),
        ]
        resources = [
            r
            for name, mime in artifact_mimes
            if (r := self._resource_entry(out_root, name, mime)) is not None
        ]
        index = {
            "name": self.config.name,
            "title": self.config.title,
            "entity_count": stats["entity_count"],
            "schemata": stats["things"]["schemata"],
            "updated_at": datetime.now(timezone.utc).isoformat(),
            "resources": resources,
        }
        self._fs.write_text_atomic(
            self._fs.join(out_root, "index.json"), json.dumps(index, default=str)
        )
        self.versions.put("index", index)
        self.store.tags.touch("last_made")
        return {"skipped": False, "exports": out_root, **index}

    # --------------------------------------------------------- exports
    def _resolve_codec(self, compression: str | None) -> tuple[str, bool]:
        """(spark_codec, zstd_post_pass). Hadoop's text-side zstd needs
        the native lib (absent here), so zst artifacts are written
        uncompressed by Spark and recompressed file-by-file with
        pyarrow's real zstd codec — the bytes honestly match the .zst
        extension (reference logic/compress.py:79-139 produces real zst
        too). On a cluster with native Hadoop codecs, pass-through
        applies."""
        codec = compression or self.config.compression or "none"
        if codec in ("zst", "zstd"):
            return "none", True
        return {"gz": "gzip"}.get(codec, codec), False

    @staticmethod
    def _recompress_zstd(out_dir: str) -> None:
        """Driver-side streaming post-pass: each part file → .zst via
        pyarrow (C-speed). Stale Hadoop .crc sidecars are dropped.
        Local paths only — on a cluster with native Hadoop zstd the
        pass-through codec applies and this post-pass never runs."""
        import pyarrow as pa

        if "://" in out_dir:
            raise NotImplementedError(
                "zstd text post-pass is driver-local; use native Hadoop "
                "zstd (pass-through codec) for remote export dirs"
            )
        for name in sorted(os.listdir(out_dir)):
            path = os.path.join(out_dir, name)
            if name.endswith(".crc"):
                os.remove(path)
                continue
            if not name.startswith("part-") or name.endswith(".zst"):
                continue
            with open(path, "rb") as src, pa.output_stream(
                path + ".zst", compression="zstd"
            ) as dst:
                while chunk := src.read(1 << 20):
                    dst.write(chunk)
            os.remove(path)

    def export_statements_csv(self, out_dir: str, compression: str | None = None) -> None:
        """statements.csv export: 15 canonical columns ordered by
        entity_id (reference S10, storage/parquet.py:731-764)."""
        df = (
            self.store.live()
            .withColumn("canonical_id", F.col("entity_id"))
            .select(*CSV_COLUMNS)
            .sort("entity_id")
        )
        codec, zst = self._resolve_codec(compression)
        df.write.mode("overwrite").option("header", True).option(
            "compression", codec
        ).csv(out_dir)
        if zst:
            self._recompress_zstd(out_dir)

    def export_entities_json(self, out_dir: str, compression: str | None = None) -> None:
        """entities.ftm.json export (reference S11): one JSON object per
        line, properties as map<string, array<string>>."""
        ent = assemble_entities(self.store.live())
        codec, zst = self._resolve_codec(compression)
        (
            ent.select(
                F.col("entity_id").alias("id"),
                "caption",
                "schema",
                "properties",
                F.array(F.lit(self.config.name)).alias("datasets"),
                "first_seen",
                "last_seen",
                "last_change",
                F.col("origins").alias("origin"),
            )
            .write.mode("overwrite")
            .option("compression", codec)
            .json(out_dir)
        )
        if zst:
            self._recompress_zstd(out_dir)


class Lakehouse:
    """Catalog of datasets under one root (reference catalog.py). The
    root may be any Hadoop FileSystem URI the image has jars for
    (``file://`` here; ``s3a://``/``gs://``/``hdfs://`` on a cluster) —
    data goes through Spark's readers/writers, control files through
    the sources.fs shim (S16)."""

    def __init__(self, spark: SparkSession, root: str):
        from ftm_lakehouse_spark.sources.fs import get_fs

        self.spark = spark
        self.root = root
        self._fs = get_fs(root, spark)
        # Create only a MISSING root: on object stores mkdirs is now a
        # real PUT (the StatementStore ownership marker), and a
        # read-only serving deployment constructing a Lakehouse over an
        # existing root must not issue writes at boot (AccessDenied
        # under read-only credentials) nor litter markers.
        if not self._fs.isdir(root):
            self._fs.mkdirs(root)

    def _config_path(self, name: str) -> str:
        return self._fs.join(self.root, name, "_meta", "config.json")

    def dataset(self, name: str, **config_kw) -> Dataset:
        cfg_path = self._config_path(name)
        if self._fs.exists(cfg_path):
            cfg = DatasetConfig.load(cfg_path, fs=self._fs)
            if config_kw.get("shards") not in (None, cfg.shards):
                # immutable after first write (reference model/dataset.py:25-30)
                raise ValueError(f"shards is immutable for dataset {name!r}")
            # mutable fields (title, compression, public_url_prefix,
            # metadata) DO update an existing sidecar — `configure` on
            # an existing dataset must not silently discard changes
            updates = {
                k: v for k, v in config_kw.items() if k != "shards"
                and getattr(cfg, k, None) != v
            }
            if updates:
                # preserve the loaded class — a registered subclass's
                # extra fields survive configure updates
                cfg = type(cfg)(
                    **{**cfg.__dict__, **updates}
                )
                cfg.dump(cfg_path, fs=self._fs)
        else:
            from ftm_lakehouse_spark.model.dataset import get_model_class

            cfg = get_model_class()(name=name, **config_kw)
            cfg.dump(cfg_path, fs=self._fs)
        return Dataset(self.spark, self.root, cfg)

    def dataset_exists(self, name: str) -> bool:
        """Reference catalog.dataset_exists: a dataset exists when its
        config sidecar does."""
        try:
            return self._fs.exists(self._config_path(name))
        except ValueError:
            return False

    def list_datasets(self) -> list[str]:
        out = []
        for name in self._fs.listdir(self.root):
            if self._fs.exists(self._config_path(name)):
                out.append(name)
        return out

    def drop_dataset(self, name: str) -> None:
        self._fs.delete(self._fs.join(self.root, name))
