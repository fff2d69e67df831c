"""Snapshot table layer: manifest-listed immutable parquet data
directories with time travel, rollback, optimistic-concurrency commits,
and retention vacuum — the minimum table format a 100 TB store actually
needs, and the one backend behind ``store.SparkVectolite``: the
Delta/Iceberg-shaped answer, self-contained so the engine has no
external table-format dependency.

Layout:
    <path>/data/v<NNNNNNNN>-<op>/   immutable parquet dirs, one per commit
    <path>/_versions/v<NNNNNNNN>.json   manifests: the dir list of a version

Commit protocol (single cheap primitive, works on any Hadoop FS):
1. write the new data dir (nothing references it yet — crash leaves garbage
   that vacuum collects, never a corrupt table);
2. create the next manifest with overwrite=False. Two racing writers pick
   the same version number; exactly one create succeeds, the loser raises
   ``SnapshotConflict`` and must retry on the new current version —
   optimistic concurrency, same shape as Delta's transaction log.

Readers never list data dirs: a version IS its manifest's dir list, so a
reader of version N is immune to concurrent commits (snapshot isolation).
Every manifest also records the version's row count (``rows``), taken on
the commit's own write or derived from the previous count, so counting a
version reads one small file and runs no Spark job.
The create in step 2 makes the manifest visible before its bytes land,
so a reader that lists it mid-write waits briefly for them
(``_read_manifest``) instead of failing or falling back to an older
version.
"""

from __future__ import annotations

import datetime as dt
import json
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from vectolite_spark.errors import VectoliteError
from vectolite_spark.localframe import local_df
from vectolite_spark.session import phase
from vectolite_spark.store import _HadoopFS


# how long a reader waits for a listed manifest's bytes to land
_MANIFEST_WAIT_S = 2.0
# what a commit at version 0 plans against (never mutated)
_NO_ROWS = {"dirs": [], "rows": 0}


class SnapshotConflict(VectoliteError):
    """Another writer committed this version first; reload and retry."""


def dir_name(path: str) -> str:
    """A data dir's name, its last path component: what
    ``input_file_name()``'s parent segment reads for the dir's rows."""
    return path.rstrip("/").rsplit("/", 1)[-1]


def duplicate_keys_error(key: str, extra: int, example) -> VectoliteError:
    """The error a merge source whose ``key`` repeats raises: ``extra``
    rows beyond one per key, ``example`` the largest repeated key."""
    return VectoliteError(
        f"merge source contains duplicate {key}s ({extra} extra rows; "
        f"e.g. {key} {example!r})"
    )


@dataclass(frozen=True)
class Probe:
    """What ``SnapshotStore.probe`` found: at ``version`` (whose
    ``manifest`` and ``schema`` it read), the rows matching ``condition``
    per data dir, ``hits = {dir: rows}``."""

    condition: Column
    version: int
    manifest: dict
    schema: StructType | None
    hits: dict[str, int]


class SnapshotStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self._fs = _HadoopFS(spark, self.path)
        self._fs.mkdirs(self._versions_dir)
        self._fs.mkdirs(self._data_dir)

    # -- layout --------------------------------------------------------------

    @property
    def _versions_dir(self) -> str:
        return f"{self.path}/_versions"

    @property
    def _data_dir(self) -> str:
        return f"{self.path}/data"

    def _manifest_path(self, version: int) -> str:
        return f"{self._versions_dir}/v{version:08d}.json"

    def _versions(self) -> list[int]:
        names = self._fs.list_names(self._versions_dir)
        return sorted(
            int(n[1:9]) for n in names if n.startswith("v") and n.endswith(".json")
        )

    def current_version(self) -> int:
        """-1 for an empty store (no commits yet)."""
        vs = self._versions()
        return vs[-1] if vs else -1

    def rows(self, version: int | None = None) -> int | None:
        """The row count of ``version`` (default: current; 0 for an
        empty store) as its manifest records it, with no Spark job; None
        for a manifest written before commits recorded counts."""
        if version is None:
            version = self.current_version()
        if version < 0:
            return 0
        return self._read_manifest(version).get("rows")

    def _read_manifest(self, version: int) -> dict:
        """The manifest of ``version``. A commit's create makes the file
        visible empty, before its writer's bytes land: an empty or
        unparseable manifest is re-read for up to ``_MANIFEST_WAIT_S``
        (every proper prefix of a JSON object is invalid JSON, so a
        parse never accepts a half-written one), then raises naming the
        path — never a silent fall back to an older version."""
        p = self._manifest_path(version)
        if not self._fs.exists(p):
            raise VectoliteError(
                f"version {version} does not exist (or was vacuumed)"
            )
        deadline = time.monotonic() + _MANIFEST_WAIT_S
        while True:
            try:
                return json.loads(self._fs.read_text(p))
            except ValueError as e:  # empty or partially written
                if time.monotonic() >= deadline:
                    raise VectoliteError(
                        f"manifest {p} is still unreadable after "
                        f"{_MANIFEST_WAIT_S:g} s: {e}"
                    ) from e
            time.sleep(0.01)

    # -- schema evolution ------------------------------------------------------

    def _schema_of(self, version: int):
        """The table's StructType AT ``version``. Since schema evolution
        landed, every commit records its (evolved) schema in the manifest
        — the Delta-shaped answer: readers pin the manifest schema instead
        of sampling (at 100 TB: merging) data-file footers. Pre-evolution
        manifests carry no schema; for those, fall back to ONE
        mergeSchema footer-union read (legacy compat only)."""
        import pyspark.sql.types as T

        if version < 0:
            return None
        m = self._read_manifest(version)
        s = m.get("schema")
        if s:
            return T.StructType.fromJson(json.loads(s))
        dirs = m["dirs"]
        if not dirs:
            return None
        return (
            self.spark.read.option("mergeSchema", "true").parquet(*dirs).schema
        )

    @staticmethod
    def _evolve_schema(prev, df_schema):
        """ADD-COLUMN evolution: the union of the table's schema and the
        incoming frame's, existing columns first. New columns append;
        columns the incoming frame lacks stay (readers NULL-backfill
        them); a TYPE change raises — silent coercion across 100 TB of
        history is a corruption, not a convenience."""
        import pyspark.sql.types as T

        if prev is None:
            return df_schema
        have = {f.name: f for f in prev.fields}
        out = list(prev.fields)
        for f in df_schema.fields:
            old = have.get(f.name)
            if old is None:
                out.append(f)
            elif old.dataType != f.dataType:
                raise VectoliteError(
                    f"schema evolution: column {f.name!r} type change "
                    f"{old.dataType.simpleString()} -> "
                    f"{f.dataType.simpleString()} is not supported (only "
                    "ADD-column evolution); write a new table or cast the "
                    "incoming frame"
                )
        return T.StructType(out)

    def _read_dirs(self, dirs: list[str], schema=None) -> DataFrame:
        """Scan data dirs under a PINNED schema (parquet resolves columns
        by name; files missing a column yield NULL — the backfill read).
        Without a schema (legacy manifests) fall back to a footer-union
        mergeSchema read."""
        if schema is not None:
            return self.spark.read.schema(schema).parquet(*dirs)
        return self.spark.read.option("mergeSchema", "true").parquet(*dirs)

    # -- commit --------------------------------------------------------------

    def _commit(
        self,
        dirs: list[str],
        op: str,
        extra: dict | None = None,
        version: int | None = None,
    ) -> int:
        # ``version`` is the number the WRITER planned against (it read
        # version-1's manifest to build ``dirs``). Recomputing here would
        # open a lost-update window: a concurrent commit during a long
        # rewrite would bump current_version(), this create would succeed
        # at a LATER number, and the concurrent commit's dirs would be
        # silently dropped instead of raising SnapshotConflict.
        if version is None:
            version = self.current_version() + 1
        manifest = {
            "version": version,
            "op": op,
            "dirs": dirs,
            "committed_at": dt.datetime.now(dt.timezone.utc).isoformat(),
            **(extra or {}),
        }
        try:
            self._fs.write_text(
                self._manifest_path(version), json.dumps(manifest), overwrite=False
            )
        except Exception as e:  # py4j surfaces FileAlreadyExists as a JVM error
            raise SnapshotConflict(
                f"version {version} was committed concurrently; retry"
            ) from e
        return version

    @staticmethod
    def _write_counted(df: DataFrame, path: str, mode: str = "error") -> int:
        """Write ``df`` as a parquet dir at ``path`` and return its row
        count, observed on the write itself (no second pass)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            mode
        ).parquet(path)
        return int(obs.get["rows"])

    @staticmethod
    def _rows_after(prev: dict, delta: int) -> dict:
        """``{"rows": ...}`` for a commit that changes ``prev``'s row count
        by ``delta``; empty when ``prev`` records no count (a legacy
        manifest), so one uncounted version leaves its successors
        uncounted rather than wrong."""
        return {"rows": prev["rows"] + delta} if "rows" in prev else {}

    def _new_data_dir(self, version: int, op: str) -> str:
        # per-attempt unique suffix: a crashed or commit-conflicted attempt
        # strands a dir for vacuum, and the RETRY of the same operation at
        # the same version gets a fresh path instead of failing on
        # mode('error') path-already-exists — retries are self-healing
        import uuid

        return f"{self._data_dir}/v{version:08d}-{op}-{uuid.uuid4().hex[:8]}"

    def _dir_has_data(self, path: str) -> bool:
        """True if a just-written parquet dir contains any data files (an
        all-rows-filtered rewrite writes only _SUCCESS; referencing such a
        dir in a manifest would break schema inference on read)."""
        return any(
            not n.startswith("_") for n in self._fs.list_names(path)
        )

    def append(self, df: DataFrame) -> int:
        """Commit ``df`` as a new version = previous dirs + one new dir.
        The write happens BEFORE the manifest create, so a crash or a lost
        race never corrupts the table — it only strands an unreferenced
        dir for vacuum. ``df`` may ADD columns (schema evolution): the
        committed manifest records the evolved union schema and readers
        NULL-backfill older dirs; type changes raise."""
        version = self.current_version() + 1
        prev = self._read_manifest(version - 1) if version > 0 else _NO_ROWS
        schema = self._evolve_schema(self._schema_of(version - 1), df.schema)
        new_dir = self._new_data_dir(version, "append")
        with phase(f"snapshot append v{version}"):
            n = self._write_counted(df, new_dir)
        dirs = prev["dirs"]
        extra: dict = {"schema": schema.json(), **self._rows_after(prev, n)}
        carried = self._carried_zonemaps(prev, dirs)
        if carried:
            extra["zonemaps"] = carried  # untouched dirs keep their stats
        return self._commit(
            dirs + [new_dir], "append", extra=extra, version=version
        )

    def overwrite(self, df: DataFrame, op: str = "overwrite") -> int:
        """Full-table rewrite (delete/update/compact all reduce to this at
        this layer): new version references ONLY the new dir; history keeps
        every older version readable until vacuum. The schema is REPLACED
        by ``df``'s (a full rewrite owns the table; compact preserves the
        union schema automatically because it rewrites ``read()``)."""
        version = self.current_version() + 1
        new_dir = self._new_data_dir(version, op)
        with phase(f"snapshot {op} v{version}"):
            n = self._write_counted(df, new_dir)
        return self._commit(
            [new_dir], op, extra={"schema": df.schema.json(), "rows": n},
            version=version,
        )

    def _affected_dirs(
        self, dirs: list[str], probe, schema=None
    ) -> dict[str, int]:
        """Which data dirs contain rows matched by ``probe`` (a DataFrame
        -> DataFrame transform), and how many: ``{dir: matched rows}`` in
        ``dirs`` order, unmatched dirs absent. All dirs scan as a single
        DataFrame, each row tagged with its source dir via
        ``input_file_name()``, and the counts aggregate in one pass: a
        constant number of Spark jobs whatever the dir count (two under
        AQE, the aggregate's map stage and its result; a probe that
        broadcasts a key set adds the broadcast's), where the r3 shape, a
        sequential ``limit(1).count()`` per dir, was O(dirs) round-trips.
        The predicate still pushes down into every scan. ``schema``: pin
        the table schema so a probe referencing an evolution-added column
        resolves against dirs written before it."""
        from pyspark.sql import functions as F

        tagged = self._read_dirs(dirs, schema).withColumn(
            "_src_dir", F.element_at(F.split(F.input_file_name(), "/"), -2)
        )
        counts = {
            r["_src_dir"]: int(r["n"])
            for r in probe(tagged)
            .groupBy("_src_dir")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        return {d: counts[dir_name(d)] for d in dirs if dir_name(d) in counts}

    def probe(self, condition: Column) -> Probe:
        """Which dirs of the current version hold rows matching
        ``condition``, and how many (``Probe.hits``; empty for an empty
        store): the first half of ``delete_where``. A caller that must
        know whether anything matches before it deletes (the store's
        ``delete_document`` leaves its indexes alone for an absent id)
        probes once and hands the ``Probe`` to ``delete_where``, which
        then rewrites without probing again."""
        version = self.current_version()
        if version < 0:
            return Probe(condition, version, {"dirs": []}, None, {})
        prev = self._read_manifest(version)
        schema = self._schema_of(version)
        hits = {}
        if prev["dirs"]:
            with phase(f"snapshot delete v{version + 1} probe"):
                hits = self._affected_dirs(
                    prev["dirs"], lambda df: df.filter(condition), schema=schema
                )
        return Probe(condition, version, prev, schema, hits)

    def known_probe(
        self, condition: Column, version: int, rows_by_dir: dict[str, int]
    ) -> Probe | None:
        """A ``Probe`` of ``version`` built from what the caller already
        knows, with no Spark job: ``rows_by_dir`` maps a data dir's name
        (``dir_name``) to the rows matching ``condition`` there. None
        when ``version`` does not list one of those dirs, so a caller
        whose facts are not this version's probes in Spark instead."""
        m = self._read_manifest(version) if version >= 0 else {"dirs": []}
        hits = {
            d: rows_by_dir[dir_name(d)]
            for d in m["dirs"]
            if dir_name(d) in rows_by_dir
        }
        if len(hits) != len(rows_by_dir):
            return None
        return Probe(condition, version, m, self._schema_of(version), hits)

    def delete_where(self, condition) -> int:
        """DIR-PRUNED copy-on-write delete (the Delta/Iceberg shape): only
        the data dirs that actually CONTAIN matching rows are rewritten;
        untouched dirs are carried into the new manifest unchanged, so at
        100 TB a one-document delete rewrites one commit's worth of files,
        not the table. The probe (``probe``, ``_affected_dirs``) costs at
        most two Spark jobs over all dirs; the survivors of every
        affected dir rewrite together as one new dir in one more job. The
        old version stays time-travelable.

        ``condition`` is a Column predicate, or a ``Probe`` that
        ``probe`` returned: its dirs are rewritten as probed, and the
        commit is planned against the version it read, so a commit
        landing since raises ``SnapshotConflict``."""
        from pyspark.sql import functions as F

        p = condition if isinstance(condition, Probe) else self.probe(condition)
        version = p.version + 1
        if version == 0:
            raise VectoliteError("store is empty (no commits yet)")
        dirs = p.manifest["dirs"]
        kept = [d for d in dirs if d not in p.hits]
        if p.hits:
            # SQL DELETE semantics: only predicate==TRUE rows die; a NULL
            # predicate keeps the row (bare ~condition would drop it)
            survives = ~F.coalesce(p.condition, F.lit(False))
            new_dir = self._new_data_dir(version, "delete")
            with phase(f"snapshot delete v{version} rewrite"):
                self._read_dirs(list(p.hits), p.schema).filter(
                    survives
                ).write.mode("error").parquet(new_dir)
            if self._dir_has_data(new_dir):
                kept.append(new_dir)
        extra = {
            "rewritten_dirs": len(p.hits),
            "pruned_dirs": len(dirs) - len(p.hits),
            **self._rows_after(p.manifest, -sum(p.hits.values())),
        }
        if p.schema is not None:
            extra["schema"] = p.schema.json()  # delete never changes schema
        carried = self._carried_zonemaps(p.manifest, kept)
        if carried:
            extra["zonemaps"] = carried  # rewritten dirs lose their stats
        return self._commit(kept, "delete", extra=extra, version=version)

    def merge(
        self,
        incoming: DataFrame,
        key: str = "id",
        probe: Callable[[DataFrame], Probe | None] | None = None,
    ) -> int:
        """Dir-pruned MERGE (upsert): dirs containing a matched key are
        rewritten WITHOUT those rows, untouched dirs are carried over, and
        ``incoming`` lands as one new dir, listed last in the new
        manifest — O(delta + affected dirs), the Delta ``MERGE INTO``
        shape.

        ``incoming`` is evaluated exactly once: it is written first, as
        the commit's ``merge-in`` dir, and every later step reads that
        dir, so an expensive source pipeline (or an ``observe`` on it)
        runs once. Then, before anything commits: the duplicate-key check
        (several source rows for one key is ambiguous, as in SQL MERGE,
        and raises), the matched-dir probe and one rewrite of all
        affected dirs. A failure before the commit deletes the dirs this
        call wrote. The manifest records ``matched_rows``, the number of
        existing rows the source replaced.

        ``probe`` lets a caller that already knows the table answer the
        check and the probe without Spark, in the way ``delete_where``
        takes a ``Probe``: it is called with the written source (read
        back from the ``merge-in`` dir), raises on duplicate keys
        (``duplicate_keys_error``), and returns a ``Probe`` of the
        version this merge plans against whose ``condition`` matches the
        existing rows to replace. Otherwise (no ``probe``, or one that
        returns None or a ``Probe`` of another version) the merge runs
        both in Spark — a ``noop``-written duplicate aggregate, then
        ``_affected_dirs`` over a broadcast key set — at most eight
        Spark jobs under AQE in all, whatever the dir count; with a
        ``Probe`` it is the write, the caller's read-back and the
        rewrite."""
        from pyspark.sql import functions as F

        version = self.current_version() + 1
        prev = self._read_manifest(version - 1) if version > 0 else _NO_ROWS
        dirs = prev["dirs"]
        prev_schema = self._schema_of(version - 1)
        schema = self._evolve_schema(prev_schema, incoming.schema)
        inc_dir = self._new_data_dir(version, "merge-in")
        written = [inc_dir]
        try:
            with phase(f"snapshot merge v{version} write"):
                n = self._write_counted(incoming, inc_dir)
            source = self._read_dirs([inc_dir], incoming.schema)
            p = probe(source) if probe is not None else None
            if p is not None and p.version == version - 1:
                hits = p.hits
                survives = ~F.coalesce(p.condition, F.lit(False))
            else:
                survives = None
                with phase(f"snapshot merge v{version} duplicate check"):
                    self._require_distinct(source, key)
                keys = F.broadcast(source.select(key))
                hits = {}
                if dirs:
                    with phase(f"snapshot merge v{version} probe"):
                        hits = self._affected_dirs(
                            dirs,
                            lambda df: df.join(keys, key, "left_semi"),
                            schema=prev_schema,
                        )
            kept = [d for d in dirs if d not in hits]
            if hits:
                new_dir = self._new_data_dir(version, "merge")
                written.append(new_dir)
                old = self._read_dirs(list(hits), prev_schema)
                with phase(f"snapshot merge v{version} rewrite"):
                    (
                        old.join(keys, key, "left_anti")
                        if survives is None
                        else old.filter(survives)
                    ).write.mode("error").parquet(new_dir)
                if self._dir_has_data(new_dir):
                    kept.append(new_dir)
        except BaseException:
            for d in written:  # nothing references them yet
                self._fs.delete(d)
            raise
        matched = sum(hits.values())
        extra = {
            "rewritten_dirs": len(hits),
            "pruned_dirs": len(dirs) - len(hits),
            "matched_rows": matched,
            "schema": schema.json(),
            **self._rows_after(prev, n - matched),
        }
        carried = self._carried_zonemaps(prev, kept)
        if carried:
            extra["zonemaps"] = carried
        return self._commit(
            kept + [inc_dir], "merge", extra=extra, version=version
        )

    @staticmethod
    def _require_distinct(df: DataFrame, key: str) -> None:
        """Raise if ``key`` repeats in ``df``. One aggregation whose
        result is observed, not collected (a ``noop`` write runs it), so
        the check costs two Spark jobs and moves no key to the driver
        however large the source."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation("merge-duplicates")
        n = F.col("_rows")
        df.groupBy(key).agg(F.count(F.lit(1)).alias("_rows")).observe(
            obs,
            F.coalesce(F.sum(n - 1), F.lit(0)).alias("extra"),
            F.max(F.when(n > 1, F.col(key))).alias("example"),
        ).write.format("noop").mode("overwrite").save()
        got = obs.get
        if got["extra"]:
            raise duplicate_keys_error(key, got["extra"], got["example"])

    def compact(
        self,
        target_files: int = 1,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Rewrite the table into ``target_files`` files as one commit.

        ``zorder_by=[c1, ..., ck]`` (1-4 columns — VERDICT r7 item 8:
        real pruning keys come in 3s): the compaction ALSO lays the
        files out in Morton/Z order on the columns and builds a
        per-file zone map next to the new data dir — Delta's OPTIMIZE
        ZORDER shape. The zone map's path is recorded in the manifest
        (``zonemaps``) and carried forward by later append/delete/merge
        commits for as long as the compacted dir survives unchanged, so
        ``read_pruned`` keeps skipping files across subsequent appends.
        Each added column halves the others' bit resolution (63 bits
        split k ways), so beyond 4 the clustering stops buying pruning
        — partition on the extras instead; the cap is enforced. At
        100 TB this is the maintenance pass that turns a churned
        append-log into a k-dimensionally clustered, stats-pruned
        scan."""
        version = self.current_version() + 1
        df = self.read()  # union schema, so compaction preserves evolution
        op = "compact"
        if zorder_by is not None and not 1 <= len(zorder_by) <= 4:
            raise VectoliteError(
                "zorder_by takes 1-4 columns (interleaving more "
                "dilutes every column below useful pruning "
                "resolution; partition on the extras instead)"
            )
        new_dir = self._new_data_dir(version, op)
        extra: dict = {"schema": df.schema.json()}
        with phase(f"snapshot {op} v{version}"):
            if zorder_by is not None:
                from vectolite_spark.operators.layout import (
                    build_zonemap,
                    zorder_frame_multi,
                )

                extra["rows"] = self._write_counted(
                    zorder_frame_multi(
                        df, list(zorder_by), n_files=target_files
                    ),
                    new_dir,
                )
                build_zonemap(self.spark, new_dir, list(zorder_by))
                extra["zonemaps"] = {new_dir: new_dir + ".zonemap"}
                extra["zorder_by"] = list(zorder_by)
            else:
                extra["rows"] = self._write_counted(
                    df.coalesce(target_files), new_dir
                )
        return self._commit([new_dir], op, extra=extra, version=version)

    def _carried_zonemaps(self, prev_manifest: dict, dirs: list[str]) -> dict:
        """Zone maps stay valid exactly while their dir is carried
        UNCHANGED into the next version — a rewritten or dropped dir
        loses its entry (the map describes bytes that no longer exist)."""
        keep = set(dirs)
        return {
            d: z
            for d, z in (prev_manifest.get("zonemaps") or {}).items()
            if d in keep
        }

    def read_pruned(
        self, ranges: dict[str, tuple], version: int | None = None
    ) -> tuple[DataFrame, int, int]:
        """Zone-map data skipping over the snapshot table: dirs with a
        recorded zone map scan ONLY the files whose (min, max) rectangle
        intersects every predicate range; dirs without one (appends since
        the last z-order compact) scan fully with the residual filter.
        Returns (DataFrame, n_files_read, n_files_total) counted over the
        zone-mapped dirs — the pruning evidence tests assert on."""
        from pyspark.sql import functions as F

        from vectolite_spark.operators.layout import zonemap_pruned_read

        if version is None:
            version = self.current_version()
        m = self._read_manifest(version)
        zonemaps = m.get("zonemaps") or {}
        residual = F.lit(True)
        for c, (lo, hi) in ranges.items():
            residual = residual & F.col(c).between(F.lit(lo), F.lit(hi))
        parts: list[DataFrame] = []
        files_read = files_total = 0
        plain = [d for d in m["dirs"] if d not in zonemaps]
        for d in m["dirs"]:
            if d not in zonemaps:
                continue
            df, nr, nt = zonemap_pruned_read(self.spark, d, ranges)
            files_read += nr
            files_total += nt
            parts.append(df)
        if plain:
            parts.append(self._read_dirs(plain).filter(residual))
        if not parts:
            return self.read(version).filter(F.lit(False)), 0, 0
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out, files_read, files_total

    def maybe_compact(
        self,
        max_dirs: int = 64,
        target_files: int = 8,
        zorder_by: list[str] | None = None,
    ) -> int | None:
        """Threshold-gated compaction — the small-files policy a long-lived
        table needs: every append/stream commit adds a dir, and a scan of
        10k tiny dirs is listing- and open-bound long before it is
        IO-bound. When the current version references more than
        ``max_dirs`` dirs, rewrite into ``target_files`` files (one
        commit; history intact; vacuum reclaims later). Returns the new
        version, or None when under threshold. Call it from ingest loops
        or a maintenance schedule — it is deliberately not automatic in
        the write path, so commit latency stays predictable."""
        version = self.current_version()
        if version < 0:
            return None
        if len(self._read_manifest(version)["dirs"]) <= max_dirs:
            return None
        return self.compact(target_files, zorder_by=zorder_by)

    def rollback(self, version: int) -> int:
        """Restore an old version AS A NEW COMMIT (never mutates history —
        the bad versions stay inspectable, exactly Delta's RESTORE). The
        restored version's schema and row count come back with it."""
        m = self._read_manifest(version)
        extra = {
            k: m[k]
            for k in ("schema", "zonemaps", "zorder_by", "rows")
            if k in m
        }
        return self._commit(
            m["dirs"],
            f"rollback:{version}",
            extra=extra or None,
            version=self.current_version() + 1,
        )

    # -- read ----------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """The table at ``version`` (default: current). Snapshot-isolated:
        the plan references exactly the manifest's immutable dirs, under
        the manifest's recorded schema — rows from dirs written before a
        column was added read it as NULL (backfill-on-read), with no
        footer sampling at plan time."""
        if version is None:
            version = self.current_version()
        if version < 0:
            raise VectoliteError("store is empty (no commits yet)")
        m = self._read_manifest(version)
        dirs = m["dirs"]
        if not dirs:
            raise VectoliteError(f"version {version} has no data dirs")
        import pyspark.sql.types as T

        schema = (
            T.StructType.fromJson(json.loads(m["schema"]))
            if "schema" in m
            else None
        )
        return self._read_dirs(dirs, schema)

    def read_changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Changed-data feed (Delta CDF shape): the ROWS ADDED between
        ``v_from`` (exclusive) and ``v_to`` (inclusive) as one DataFrame —
        the incremental-consumption primitive that lets a downstream job
        process only the delta instead of rescanning 100 TB per run. An
        appended commit's rows are exactly its new dirs, so the feed is a
        manifest set-difference and the scan touches ONLY delta bytes.

        Valid when every commit in the window is insert-only (append /
        stream); a rewrite (delete/merge/compact/rollback) MOVES existing
        rows into new dirs, which would replay old rows as inserts — the
        method detects that and raises, pointing to ``diff()`` (key-level
        CDC) instead of silently over-delivering."""
        if v_to is None:
            v_to = self.current_version()
        if v_to < 0:
            raise VectoliteError("store is empty (no commits yet)")
        if v_from > v_to:
            raise VectoliteError(f"v_from {v_from} is after v_to {v_to}")
        for v in range(v_from + 1, v_to + 1):
            op = self._read_manifest(v)["op"]
            if op != "append" and not op.startswith("stream:"):
                raise VectoliteError(
                    f"read_changes window contains a rewrite commit "
                    f"(v{v}: {op}) — new dirs there are moved rows, not "
                    "inserts; use diff() for key-level CDC across rewrites"
                )
        m_to = self._read_manifest(v_to)
        old = set(self._read_manifest(v_from)["dirs"]) if v_from >= 0 else set()
        new_dirs = [d for d in m_to["dirs"] if d not in old]
        import pyspark.sql.types as T

        schema = (
            T.StructType.fromJson(json.loads(m_to["schema"]))
            if "schema" in m_to
            else None
        )
        if not new_dirs:
            if schema is not None:
                return local_df(self.spark, [], schema)
            return self.read(v_to).limit(0)
        return self._read_dirs(new_dirs, schema)

    def diff(self, v_old: int, v_new: int, key: str = "id") -> DataFrame:
        """Row-level diff between two versions keyed by ``key``: returns
        (key, change) with change in {'added', 'removed'} — the
        CDC-style "what happened between v1 and v2" question a snapshot
        table should answer without replaying the commit log. Shape: two
        anti-joins on the key; dirs SHARED by both manifests are read
        only for the side that still needs them, and at 100 TB both
        sides are manifest-pruned scans, not log replays. Unchanged rows
        never leave the scan."""
        from pyspark.sql import functions as F

        old_dirs = set(self._read_manifest(v_old)["dirs"])
        new_dirs = set(self._read_manifest(v_new)["dirs"])
        # dirs present in both manifests hold rows in BOTH versions: those
        # keys cannot be added or removed, so only the symmetric
        # difference needs scanning at all
        old_only = sorted(old_dirs - new_dirs)
        new_only = sorted(new_dirs - old_dirs)
        spark = self.spark
        all_dirs = sorted(old_dirs | new_dirs)
        if not all_dirs:
            return local_df(spark, [], f"{key} long, change string")
        key_schema = spark.read.parquet(*all_dirs).select(key).schema
        empty = local_df(spark, [], key_schema)
        o = (
            spark.read.parquet(*old_only).select(key) if old_only else empty
        )
        n = (
            spark.read.parquet(*new_only).select(key) if new_only else empty
        )
        added = n.join(o, key, "left_anti")
        removed = o.join(n, key, "left_anti")
        # a key can move between dirs across a rewrite (delete/merge): the
        # anti-joins above already cancel those, but a key that moved from
        # a shared dir is impossible by construction (shared dirs are
        # byte-identical in both versions)
        return added.select(
            F.col(key), F.lit("added").alias("change")
        ).unionByName(
            removed.select(F.col(key), F.lit("removed").alias("change"))
        )

    def history(self) -> list[dict]:
        """Newest-first commit log (version, op, n_dirs, committed_at)."""
        out = []
        for v in reversed(self._versions()):
            m = self._read_manifest(v)
            out.append(
                {
                    "version": v,
                    "op": m["op"],
                    "n_dirs": len(m["dirs"]),
                    "committed_at": m["committed_at"],
                }
            )
        return out

    # -- retention -----------------------------------------------------------

    def shallow_clone(self, dst_path: str) -> "SnapshotStore":
        """Zero-copy shallow clone (Delta CLONE shape, r8): the clone's
        v0 manifest REFERENCES the source's current data dirs by
        absolute path — no bytes move, so cloning a 100 TB table is one
        tiny JSON write. From then on the two logs diverge
        independently: clone commits (append / COW delete / compact)
        write into the clone's OWN data dir and the source never sees
        them, while source commits never appear in the clone (every
        version pins its dirs). Zone maps carry — they describe the
        shared bytes. ``vacuum`` stays safe on the CLONE side by
        construction (it deletes only inside its own data dir, and the
        referenced source dirs live elsewhere).

        Caveats (Delta's too, stated loudly): VACUUM or history
        retention on the SOURCE can delete dirs a clone still
        references — cross-table reference counting is a catalog's job,
        not a file layout's; retain source history while shallow clones
        live, or deep-copy via ``clone.compact()``. GDPR erasure on the
        source does NOT erase clones (their manifests keep referencing
        the pre-delete dirs) — run the erasure per clone;
        ``erasure_audit`` on the clone surfaces the violation."""
        src_v = self.current_version()
        if src_v < 0:
            raise VectoliteError(
                "cannot shallow-clone an empty store (no commits yet)"
            )
        m = self._read_manifest(src_v)
        dst = SnapshotStore(self.spark, dst_path)
        if dst.current_version() >= 0:
            raise VectoliteError(
                f"clone destination {dst_path} already has commits"
            )
        extra: dict = {"cloned_from": self.path, "src_version": src_v}
        for k in ("schema", "zonemaps", "rows"):
            if m.get(k) is not None:
                extra[k] = m[k]
        dst._commit(list(m["dirs"]), "clone", extra=extra, version=0)
        return dst

    def vacuum(self, keep_versions: int = 2) -> dict:
        """Drop manifests older than the newest ``keep_versions`` and delete
        data dirs no retained version references (including dirs stranded
        by crashed or conflicted commits). Returns counts for observability.
        """
        if keep_versions < 1:
            raise VectoliteError("keep_versions must be >= 1")
        vs = self._versions()
        drop, keep = vs[:-keep_versions], vs[-keep_versions:]
        referenced: set[str] = set()
        for v in keep:
            for d in self._read_manifest(v)["dirs"]:
                referenced.add(dir_name(d))
        removed_dirs = 0
        for name in self._fs.list_names(self._data_dir):
            # a dir's zone map lives beside it as <dir>.zonemap and shares
            # its lifetime: kept while the dir is referenced, collected
            # with it otherwise
            base = name[: -len(".zonemap")] if name.endswith(".zonemap") else name
            if base not in referenced:
                self._fs.delete(f"{self._data_dir}/{name}")
                removed_dirs += 1
        for v in drop:
            self._fs.delete(self._manifest_path(v))
        return {"removed_manifests": len(drop), "removed_dirs": removed_dirs}


    def erasure_audit(self, condition, checksum_col: str | None = None) -> dict:
        """Right-to-be-forgotten verification: prove a predicate matches
        ZERO rows anywhere in the store — every retained version's data
        AND any unreferenced dir still on disk (a crashed commit or an
        un-vacuumed old version both count as 'not erased'; time travel
        means a plain delete is NOT erasure until vacuum drops the old
        manifests). One job over the union of retained dirs under the
        current schema, plus one FS listing for strays. Returns
        {n_versions, n_matches, n_unreferenced_dirs, erased}; when
        ``checksum_col`` is given the dict also carries
        ``match_checksum`` = SUM(checksum_col) over matched rows, so an
        external verifier can pin WHICH rows the audit saw, not just how
        many (a lying audit that blindly reports zero fails the
        checksum, not only the count)."""
        versions = self._versions()
        dirs = sorted(
            {d for v in versions for d in self._read_manifest(v)["dirs"]}
        )
        referenced = {dir_name(d) for d in dirs}
        stray = [
            n
            for n in self._fs.list_names(self._data_dir)
            if (n[: -len(".zonemap")] if n.endswith(".zonemap") else n)
            not in referenced
        ]
        n_matches = 0
        checksum = 0
        if dirs:
            from pyspark.sql import functions as F

            schema = self._schema_of(versions[-1]) if versions else None
            matched = self._read_dirs(dirs, schema).filter(condition)
            if checksum_col is not None:
                row = matched.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum(checksum_col), F.lit(0)).alias("c"),
                ).collect()[0]
                n_matches, checksum = int(row["n"]), int(row["c"])
            else:
                n_matches = int(matched.count())
        out = {
            "n_versions": len(versions),
            "n_matches": n_matches,
            "n_unreferenced_dirs": len(stray),
            "erased": n_matches == 0 and not stray,
        }
        if checksum_col is not None:
            out["match_checksum"] = checksum
        return out


def with_conflict_retry(op, attempts: int = 3):
    """Run a commit-producing callable under optimistic concurrency: on
    ``SnapshotConflict`` re-invoke it (the store's mutation methods
    re-read the current manifest on every call, so a retry automatically
    plans against the winning writer's version). Use for append/delete/
    merge loops that may race:

        with_conflict_retry(lambda: store.delete_where(cond))

    Raises the last ``SnapshotConflict`` after ``attempts`` tries —
    sustained contention means the caller should serialize writers, not
    spin. A conflicted attempt's data dirs are uniquely named and
    unreferenced; ``vacuum`` collects them."""
    last: SnapshotConflict | None = None
    for _ in range(max(1, attempts)):
        try:
            return op()
        except SnapshotConflict as e:
            last = e
    raise last


def last_stream_batch_id(store: SnapshotStore) -> int:
    """Highest streaming batch id ever committed (-1 if none): the replay
    fence for the exactly-once sink below."""
    best = -1
    for v in store._versions():
        m = store._read_manifest(v)
        best = max(best, int(m.get("batch_id", -1)))
    return best


def streaming_append(store: SnapshotStore, stream, checkpoint_dir: str):
    """EXACTLY-ONCE streaming sink into the snapshot store — the property
    a plain `writeStream.format("parquet")` cannot give you across sinks:
    each micro-batch becomes one commit whose manifest RECORDS the batch
    id, so a replayed batch (checkpoint lost between sink and offset
    write — the classic at-least-once window) is detected and skipped
    instead of double-appended. The batch's data dir is written with
    overwrite (idempotent: a crashed attempt's partial dir is simply
    rewritten), and the manifest create is the atomic commit point.
    Returns the started StreamingQuery (availableNow trigger).
    """

    return (
        stream.writeStream.foreachBatch(make_stream_sink(store))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def make_stream_sink(store: SnapshotStore):
    """The foreachBatch commit function (exposed so the replay fence is
    directly testable without forging a checkpoint loss)."""

    def sink(batch_df, batch_id: int) -> None:
        if int(batch_id) <= last_stream_batch_id(store):
            return  # replayed batch: already committed, exactly-once skip
        version = store.current_version() + 1
        schema = store._evolve_schema(
            store._schema_of(version - 1), batch_df.schema
        )
        new_dir = f"{store._data_dir}/v{version:08d}-stream"
        n = store._write_counted(batch_df, new_dir, mode="overwrite")
        prev = store._read_manifest(version - 1) if version > 0 else _NO_ROWS
        dirs = prev["dirs"]
        extra: dict = {
            "batch_id": int(batch_id),
            "schema": schema.json(),
            **store._rows_after(prev, n),
        }
        # carry zone maps for untouched dirs, matching append(): without
        # this the first micro-batch after a z-order compact silently
        # drops the compacted dirs' stats and read_pruned full-scans them
        carried = store._carried_zonemaps(prev, dirs)
        if carried:
            extra["zonemaps"] = carried
        store._commit(
            dirs + [new_dir], f"stream:{batch_id}",
            extra=extra,
            version=version,
        )

    return sink
