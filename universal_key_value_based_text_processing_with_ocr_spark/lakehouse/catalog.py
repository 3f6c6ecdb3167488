"""Snapshot-manifest table format (Iceberg semantics, Parquet files).

The reference's only sink is a JSON file rewritten per document
(/root/reference/ocrfw/ktp.py:2138-2140) plus a commented DB insert
(:2142).  The engine replaces it with an append-only table that gives the
north_rule's resumability: every append is a SNAPSHOT committed by an
atomic rename, so readers see either the old or the new table, never a
torn write.

Metadata is CHUNKED so planning never materialises the full file list on
the driver (VERDICT r2 #4 — at 10^12 docs the file list is itself big
data).  The hierarchy maps 1:1 to Iceberg's:

    v<seq>.json           = snapshot + MANIFEST LIST: an array of chunk
                            summaries {path, n_files, rows, column,
                            min, max} — O(#chunks), never O(#files)
    chunk-<id>.json       = MANIFEST FILE: <=CHUNK_MAX_FILES data files
                            with per-file stats; immutable, structurally
                            shared by every later snapshot (an append
                            copies the parent's chunk-summary array, not
                            the chunks, exactly like Iceberg)
    data/<snap>/part-*.parquet = data files

Layout:
    <table>/data/<snapshot_id>/part-*.parquet    (files of one append)
    <table>/_snapshots/chunk-<id>.json           (manifest chunk)
    <table>/_snapshots/v<seq>.json               (snapshot manifest list)

Every manifest also records the TABLE schema (``table_schema``): the
union-by-name of its parent's table schema and the schema this commit
wrote, integer/float columns widened (Iceberg's current schema).  Reads
scan every file with it, so no Spark job merges footers at read time.

A pruned read (``between=(lo,hi)``) first prunes CHUNKS by their aggregate
min/max in the manifest list, then opens only the surviving chunk files
and prunes per-file — the Iceberg partition-summary -> manifest-entry
two-level prune.  Resume = anti-join of source urls against the committed
table (SURVEY.md §2c).  With a networked cluster the same calls map to
Iceberg: append -> df.writeTo(tbl).append(), read ->
spark.read.format("iceberg"), committed snapshot -> snapshot-id travel.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class ConflictError(RuntimeError):
    """A replacing commit (compact/rebuild) found a parent it did not
    expect: a concurrent append landed between read and commit.  The
    caller must recompute from the current table state and retry."""


#: sentinel for "no expected-parent validation" in _commit — ``None`` is a
#: legitimate expected parent (committing onto an empty table), so the
#: disabled state needs its own object
_UNSET = object()


#: footer key-value entry under which Spark's parquet writer stores the
#: Spark schema of the file
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

#: integral and floating types in widening order: a union of two of one
#: family keeps the wider (the parquet reader widens int32 to bigint and
#: float to double on read)
_WIDENING = (("byte", "short", "integer", "long"), ("float", "double"))


def _struct(schema_json: str):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(schema_json))


def union_schemas(base, added):
    """Union by name of two StructTypes: ``base``'s fields in order, then
    the fields only ``added`` has.  A field in both keeps one type: equal
    types as is, nested structs/arrays/maps merged field by field, and
    integral or floating types widened to the wider one; any other pair
    raises ValueError.  A field is nullable if either side's is."""
    from pyspark.sql.types import StructField, StructType

    other = {f.name: f for f in added.fields}
    fields = []
    for f in base.fields:
        g = other.pop(f.name, None)
        if g is None:
            fields.append(f)
            continue
        dtype = _union_types(f.dataType, g.dataType, f.name)
        fields.append(StructField(f.name, dtype, f.nullable or g.nullable, f.metadata))
    fields += [g for g in added.fields if g.name in other]
    return StructType(fields)


def _union_types(a, b, name: str):
    from pyspark.sql.types import ArrayType, MapType, StructType

    if a == b:
        return a
    if isinstance(a, StructType) and isinstance(b, StructType):
        return union_schemas(a, b)
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return ArrayType(
            _union_types(a.elementType, b.elementType, name), a.containsNull or b.containsNull
        )
    if isinstance(a, MapType) and isinstance(b, MapType):
        return MapType(
            _union_types(a.keyType, b.keyType, name),
            _union_types(a.valueType, b.valueType, name),
            a.valueContainsNull or b.valueContainsNull,
        )
    for family in _WIDENING:
        if a.typeName() in family and b.typeName() in family:
            return max(a, b, key=lambda t: family.index(t.typeName()))
    raise ValueError(
        f"column {name!r}: cannot union {a.simpleString()} with {b.simpleString()}"
    )


class SnapshotTable:
    def __init__(self, path: str | os.PathLike, stats_columns: tuple | None = None):
        self.path = Path(path)
        self.snapshot_dir = self.path / "_snapshots"
        # per-table stats allowlist: the class default covers the key
        # columns every table carries; writers that cluster on other
        # columns (lakehouse/zorder.py) extend it so their layout's
        # min/max envelopes actually get recorded
        self.stats_columns = tuple(stats_columns) if stats_columns else self.STATS_COLUMNS

    # -- manifest bookkeeping ------------------------------------------------
    _MANIFEST_RE = re.compile(r"^v\d{8}\.json$")

    def _manifests(self) -> list[Path]:
        """Committed manifests only: a ``.tmp-*`` file left by a crash between
        fsync and the os.link claim must never be read as a snapshot."""
        if not self.snapshot_dir.is_dir():
            return []
        out = []
        for p in self.snapshot_dir.iterdir():
            if self._MANIFEST_RE.match(p.name):
                out.append(p)
            elif p.name.startswith(".tmp-"):
                # opportunistic cleanup of orphaned temp files from hard
                # crashes; age-gated so an in-flight commit is never raced,
                # and stat+unlink both guarded — a concurrent _manifests()
                # may have already removed the orphan
                try:
                    if time.time() - p.stat().st_mtime > 3600:
                        p.unlink()
                except OSError:
                    pass
        return sorted(out)

    def latest_manifest(self) -> dict | None:
        manifests = self._manifests()
        if not manifests:
            return None
        with open(manifests[-1], encoding="utf-8") as f:
            return json.load(f)

    def exists(self) -> bool:
        return bool(self._manifests())

    def snapshot_id(self) -> str | None:
        m = self.latest_manifest()
        return m["snapshot_id"] if m else None

    # -- manifest chunks (Iceberg manifest files) ------------------------------
    #: max data files per manifest chunk: bounds what planning reads per
    #: chunk open; 1000 files/chunk puts a 10^6-file table at ~1000 chunk
    #: summaries in the manifest list — still driver-trivial.
    CHUNK_MAX_FILES = 1000

    def _write_chunk(self, files: list[str], file_stats: dict) -> dict:
        """Write one immutable manifest chunk; return its summary entry.

        The summary carries the chunk's aggregate stats (row total and the
        min/max envelope of the per-file stats column when every file in the
        chunk has stats for the same column) so planning can discard the
        whole chunk without opening it."""
        chunk_id = uuid.uuid4().hex[:16]
        entries = {rel: file_stats.get(rel, {}) for rel in files}
        chunk = {"chunk_id": chunk_id, "files": files, "file_stats": entries}
        self.snapshot_dir.mkdir(parents=True, exist_ok=True)
        name = f"chunk-{chunk_id}.json"
        tmp = self.snapshot_dir / f".tmp-{name}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(chunk, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.snapshot_dir / name)  # immutable once visible
        summary: dict = {
            "path": name,
            "n_files": len(files),
            "rows": sum(e.get("rows", 0) for e in entries.values()),
        }
        cols = {e.get("column") for e in entries.values()}
        if len(cols) == 1 and None not in cols and all("min" in e for e in entries.values()):
            # same TypeError guard as the multi-column envelope below: the
            # legacy single-column bounds can hit the identical mixed-type
            # schema drift (str-vs-int min/max under one column name) and
            # must degrade to no-envelope, not crash the commit
            try:
                mn = min(e["min"] for e in entries.values())
                mx = max(e["max"] for e in entries.values())
            except TypeError:
                pass
            else:
                summary["column"] = cols.pop()
                summary["min"] = mn
                summary["max"] = mx
        # multi-column envelope: a column appears in the chunk summary iff
        # EVERY file in the chunk has stats for it (else the chunk-level
        # prune could wrongly discard a file with unknown bounds)
        if entries:
            shared = set.intersection(
                *(set(e.get("cols", {})) for e in entries.values())
            )
            if shared:
                env = {}
                for c in shared:
                    # TypeError guard to match the read path (ADVICE r4):
                    # schema drift can re-type a stats column between
                    # snapshots (str vs int bounds for one name) — drop
                    # that column from the envelope instead of crashing
                    # the commit; _plan_files already treats a missing
                    # envelope conservatively (chunk never pruned).
                    try:
                        env[c] = [
                            min(e["cols"][c]["min"] for e in entries.values()),
                            max(e["cols"][c]["max"] for e in entries.values()),
                        ]
                    except TypeError:
                        continue
                if env:
                    summary["cols"] = env
        return summary

    def _load_chunk(self, summary: dict) -> dict:
        with open(self.snapshot_dir / summary["path"], encoding="utf-8") as f:
            return json.load(f)

    @staticmethod
    def _chunk_summaries(manifest: dict) -> list[dict]:
        """Chunk-summary list of a manifest; legacy manifests that inlined
        the full file list are adapted as one pseudo-chunk (``inline``)."""
        if "chunks" in manifest:
            return manifest["chunks"]
        files = manifest.get("files", [])
        return [
            {
                "inline": {"files": files, "file_stats": manifest.get("file_stats", {})},
                "n_files": len(files),
            }
        ]

    def _plan_files(
        self, manifest: dict, between: tuple | None, column: str | None = None
    ) -> tuple[list[str], int, int, dict]:
        """(file list, chunks opened, total chunks, file -> the commit
        sequence that added it) for a scan.

        Chunk-level prune first (manifest-list min/max, no I/O), then
        per-file prune inside only the surviving chunks — planning cost is
        O(matching chunks), never O(total files).  ``column`` selects which
        stats column the ``between`` range applies to; ``None`` means the
        table's default (first-present) stats column.  Timestamp columns
        store ISO-8601 strings, so pass ISO strings as the range — the
        lexicographic compare is order-consistent within one format.  A
        chunk/file with no envelope for the requested column is always
        kept (unknown bounds must never prune)."""
        lo, hi = between if between is not None else (None, None)
        if column is None and between is not None:
            # pin the default column TABLE-WIDE from the first envelope in
            # the manifest: per-file "first present column" defaults could
            # differ under schema drift, and comparing one range against
            # two different columns' bounds silently mis-prunes (review
            # finding) — with a pinned column, files that lack it are
            # simply kept
            for s in self._chunk_summaries(manifest):
                if "column" in s:
                    column = s["column"]
                    break

        def bounds(rec: dict, chunk_level: bool):
            """(min, max) of the requested column in a summary/stats record,
            or None when that column's envelope is absent."""
            if column is None:
                return (rec["min"], rec["max"]) if "min" in rec else None
            cols = rec.get("cols")
            if cols and column in cols:
                c = cols[column]
                return tuple(c) if chunk_level else (c["min"], c["max"])
            # legacy records carry only the single default column
            if rec.get("column") == column and "min" in rec:
                return (rec["min"], rec["max"])
            return None

        def chunk_may_match(s: dict) -> bool:
            if between is None:
                return True
            b = bounds(s, chunk_level=True)
            try:
                return b is None or not (b[1] < lo or b[0] > hi)
            except TypeError:
                return True  # mixed-type bounds (schema drift): never prune

        def file_may_match(st: dict) -> bool:
            if between is None or not st:
                return True
            b = bounds(st, chunk_level=False)
            try:
                return b is None or not (b[1] < lo or b[0] > hi)
            except TypeError:
                return True

        files: list[str] = []
        file_seq: dict = {}
        opened = 0
        summaries = self._chunk_summaries(manifest)
        for s in summaries:
            if not chunk_may_match(s):
                continue
            chunk = s["inline"] if "inline" in s else self._load_chunk(s)
            if "inline" not in s:
                opened += 1
            stats = chunk.get("file_stats", {})
            seq = s.get("added_seq", 0)  # legacy chunks read as oldest
            for rel in chunk["files"]:
                if file_may_match(stats.get(rel, {})):
                    files.append(rel)
                    file_seq[rel] = seq
        return files, opened, len(summaries), file_seq

    # -- write path ------------------------------------------------------------
    def append(
        self,
        df: DataFrame,
        summary: dict | None = None,
        max_retries: int = 20,
        _replace: bool = False,
        _expected_parent: str | None = None,
    ) -> str:
        """Append df as a new snapshot; returns the snapshot id.

        Optimistic-concurrency commit (Iceberg-style): data files are
        written first (invisible to readers), then the manifest claims the
        next sequence number via an EXCLUSIVE create (``os.link`` of a
        fsync'd temp file onto the unique ``v<seq>.json`` name — a POSIX
        compare-and-swap).  A concurrent writer that claimed the same
        sequence first causes EEXIST; this writer then re-reads the new
        parent, rebases its manifest (parent files + its own) and retries,
        so no committed snapshot is ever orphaned.

        A REPLACING commit additionally carries ``_expected_parent`` (the
        snapshot its replacement rows were computed FROM): if a concurrent
        append committed in between, blindly replacing would orphan that
        append's rows (review finding — lost update), so the commit raises
        ConflictError instead and the caller recomputes (exactly Iceberg's
        rewrite_data_files validation failure)."""
        snapshot_id = uuid.uuid4().hex[:16]
        df.write.mode("overwrite").parquet(str(self.path / "data" / snapshot_id))
        return self._commit_data_dir(
            snapshot_id, df.schema.json(), summary, max_retries, _replace, _expected_parent
        )

    def append_rows(self, rows: list[tuple], schema, summary: dict | None = None) -> str:
        """Append a few driver-side ``rows`` (tuples in ``schema``'s field
        order, a Spark ``StructType``) as a new snapshot of one parquet file
        written on the driver; returns the snapshot id.

        The commit is ``append``'s, and the file reads back as Spark's
        would: the column types come from ``schema`` and its footer carries
        Spark's schema.  For a handful of rows this skips the Spark write
        job, whose tasks cost more to launch than the rows cost to write."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        snapshot_id = uuid.uuid4().hex[:16]
        data_dir = self.path / "data" / snapshot_id
        data_dir.mkdir(parents=True)
        arrow_schema = to_arrow_schema(schema).with_metadata(
            {_SPARK_SCHEMA_KEY: schema.json().encode()}
        )
        table = pa.Table.from_pylist(
            [dict(zip(arrow_schema.names, r)) for r in rows], schema=arrow_schema
        )
        name = f"part-00000-{uuid.uuid4()}.parquet"
        # written under a name no commit lists, made durable, then renamed
        tmp = data_dir / f".{name}.tmp"
        with open(tmp, "wb") as f:
            pq.write_table(table, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, data_dir / name)
        return self._commit_data_dir(snapshot_id, schema.json(), summary)

    def _commit_data_dir(
        self,
        snapshot_id: str,
        schema_json: str,
        summary: dict | None,
        max_retries: int = 20,
        _replace: bool = False,
        _expected_parent: str | None = None,
    ) -> str:
        """Commit the parquet files under ``data/<snapshot_id>`` as that
        snapshot: their footer stats go into new manifest chunks, and the
        manifest list goes through ``_commit``.  The tail of ``append``
        and ``append_rows``, which differ only in who writes the files."""
        data_dir = self.path / "data" / snapshot_id
        new_files = sorted(
            str(p.relative_to(self.path))
            for p in data_dir.rglob("*.parquet")
            if p.is_file()
        )
        file_stats = self._collect_file_stats(new_files)
        self.snapshot_dir.mkdir(parents=True, exist_ok=True)

        # Chunk the new files BEFORE the commit loop: chunks are immutable
        # and snapshot-independent, so a commit retry rebases only the
        # manifest-list array (parent summaries + ours) — never rewrites
        # chunk data.  Exactly Iceberg's manifest reuse across snapshots.
        new_chunks = [
            self._write_chunk(new_files[i : i + self.CHUNK_MAX_FILES], file_stats)
            for i in range(0, len(new_files), self.CHUNK_MAX_FILES)
        ] if new_files else []

        # Row totals come free from the chunk summaries (parquet footers) —
        # record them so history() always carries per-snapshot doc counts,
        # whether or not the caller supplied its own summary fields.
        auto_summary = {"n_rows": sum(c.get("rows", 0) for c in new_chunks)}

        def build_chunks(parent, seq):
            # stamp the commit sequence on the NEW chunks (legacy chunks
            # without a stamp read as 0 = oldest): equality deletes apply
            # only to data chunks OLDER than the delete (Iceberg v2
            # sequence-number semantics), so a row re-appended after a
            # delete of its key stays visible
            for c in new_chunks:
                c["added_seq"] = seq
            parent_chunks = self._chunk_summaries(parent) if parent else []
            return new_chunks if _replace else parent_chunks + new_chunks

        def build_deletes(parent, seq):
            if _replace:
                return []  # a replacing rewrite (compact) APPLIED the deletes
            return list(parent.get("delete_files", [])) if parent else []

        return self._commit(
            snapshot_id,
            schema_json,
            {**auto_summary, **(summary or {})},
            build_chunks,
            build_deletes=build_deletes,
            expected_parent=(
                _expected_parent if (_replace and _expected_parent is not None) else _UNSET
            ),
            max_retries=max_retries,
            replace=_replace,
        )

    def _commit(
        self,
        snapshot_id: str,
        schema_json: str,
        summary: dict,
        build_chunks,
        build_deletes=None,
        expected_parent=_UNSET,
        max_retries: int = 20,
        replace: bool = False,
    ) -> str:
        """The optimistic-concurrency commit loop shared by append,
        merge_upsert and delete_where (see append's docstring for the CAS
        protocol).  ``build_chunks(parent_manifest_or_None, seq)`` supplies
        the chunk-summary list for the new manifest — called fresh on every
        retry so a plain append rebases onto a new parent's chunks;
        ``build_deletes`` likewise supplies the equality-delete file list
        (None = carry the parent's).  ``expected_parent`` (pass ``_UNSET``
        to disable the check) turns the commit into a validating replace:
        any concurrent commit raises ConflictError.  ``replace`` says the
        new chunks are the whole table, so its table schema is the written
        schema alone rather than a union with the parent's."""
        if build_deletes is None:
            def build_deletes(parent, seq):
                return list(parent.get("delete_files", [])) if parent else []
        for _attempt in range(max_retries):
            parent = self.latest_manifest()
            if expected_parent is not _UNSET:
                actual = parent["snapshot_id"] if parent else None
                if actual != expected_parent:
                    raise ConflictError(
                        f"replacing commit expected parent {expected_parent} but "
                        f"found {actual}: a concurrent append landed — recompute "
                        "the replacement from the current table and retry"
                    )
            # schema_json=None means "carry the FRESH parent's schema":
            # a metadata-only commit (delete_where) that captured schema
            # before the loop would revert a schema evolved by a
            # concurrent append when the CAS retry rebases (review
            # finding) — resolve it per attempt instead.
            schema = schema_json
            if schema is None:
                if parent is None:
                    raise FileNotFoundError(f"no committed snapshot in {self.path}")
                schema = parent["schema"]
            # the table schema, like the written schema, is resolved
            # against THIS attempt's parent: a concurrent append that added
            # a column must not lose it when this commit rebases
            table_schema = _struct(schema)
            if parent is not None and not replace:
                table_schema = union_schemas(self._table_schema(parent), table_schema)
            seq = (parent["sequence"] + 1) if parent else 1
            manifest = {
                "snapshot_id": snapshot_id,
                "parent_id": parent["snapshot_id"] if parent else None,
                "sequence": seq,
                "committed_at_ms": int(time.time() * 1000),
                "schema": schema,
                "table_schema": table_schema.json(),
                "chunks": build_chunks(parent, seq),
                "delete_files": build_deletes(parent, seq),
                "summary": summary,
            }
            tmp = self.snapshot_dir / f".tmp-{snapshot_id}-{_attempt}.json"
            final = self.snapshot_dir / f"v{seq:08d}.json"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(manifest, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, final)  # atomic claim of this sequence number
                os.unlink(tmp)
                return snapshot_id
            except FileExistsError:
                os.unlink(tmp)  # lost the race: rebase on the new parent
        raise RuntimeError(f"commit contention: gave up after {max_retries} retries on {self.path}")

    # -- file statistics (manifest-level pruning, Iceberg-style) -------------
    #: columns whose footer min/max are recorded per file.  Real planning
    #: prunes on SEVERAL columns (url + warc_ts at minimum for a crawl
    #: table) so every present stats column gets an envelope, not just the
    #: first — exactly Iceberg's per-column ``lower_bounds``/``upper_bounds``.
    #: ORDER MATTERS for legacy compatibility: the FIRST present column is
    #: the default/legacy pruning column, so new entries append at the END
    #: — reordering would silently flip the default for existing tables
    #: and mix bound types across old and new chunks (review finding).
    STATS_COLUMNS = ("url", "doc_id", "user_id", "id", "warc_ts")

    def _collect_file_stats(self, rel_files: list[str]) -> dict:
        """Per-file row count + min/max of EVERY present stats column, read
        from parquet footers (metadata only, no data scan).  The first
        column's envelope is duplicated into legacy ``column``/``min``/
        ``max`` keys so chunks written by older code and new chunks prune
        identically on the default column."""
        import pyarrow.parquet as pq

        stats: dict = {}
        for rel in rel_files:
            try:
                meta = pq.ParquetFile(str(self.path / rel)).metadata
            except Exception:
                continue
            names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
            entry: dict = {"rows": meta.num_rows}
            cols: dict = {}
            for col in self.stats_columns:
                if col not in names:
                    continue
                idx = names[col]
                lo = hi = None
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                if lo is not None:
                    if hasattr(lo, "isoformat"):  # timestamps aren't JSON-safe
                        lo, hi = lo.isoformat(), hi.isoformat()
                    cols[col] = {"min": lo, "max": hi}
            if cols:
                entry["cols"] = cols
                first = next(c for c in self.stats_columns if c in cols)
                entry.update(
                    {"column": first, "min": cols[first]["min"], "max": cols[first]["max"]}
                )
            stats[rel] = entry
        return stats

    # -- read path ------------------------------------------------------------
    def _table_schema(self, manifest: dict):
        """The table schema of ``manifest``, which the next commit unions
        with what it writes.  A manifest written before ``table_schema``
        was recorded gets the union of its live files' own schemas, read
        from the parquet footers on the driver (Spark stores its schema
        there) — not from the ``v*.json`` chain, whose expired links may
        be gone while their files are still live."""
        if "table_schema" in manifest:
            return _struct(manifest["table_schema"])
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        schema = _struct(manifest["schema"])
        for rel in self._plan_files(manifest, None)[0]:
            footer = pq.ParquetFile(str(self.path / rel))
            spark_json = (footer.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
            file_schema = (
                _struct(spark_json.decode()) if spark_json
                else from_arrow_schema(footer.schema_arrow)
            )
            schema = union_schemas(schema, file_schema)
        return schema

    def _resolve_manifest(self, snapshot_id: str | None) -> dict:
        manifest = self.latest_manifest()
        if snapshot_id is not None:
            for p in reversed(self._manifests()):
                with open(p, encoding="utf-8") as f:
                    m = json.load(f)
                if m["snapshot_id"] == snapshot_id:
                    manifest = m
                    break
            else:
                raise ValueError(f"snapshot {snapshot_id} not found in {self.path}")
        if manifest is None:
            raise FileNotFoundError(f"no committed snapshot in {self.path}")
        return manifest

    def read(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        between: tuple | None = None,
        column: str | None = None,
    ) -> DataFrame:
        """Read the latest (or a pinned) snapshot's exact file list.

        ``between=(lo, hi)`` prunes at TWO levels before Spark ever lists a
        file: whole manifest chunks via their aggregate min/max in the
        manifest list (no I/O), then per-file stats inside only the
        surviving chunks — so planning reads O(matching chunks), not the
        full file list (row-group pruning inside the surviving files still
        happens in the parquet reader).  ``column`` picks WHICH stats
        column the range prunes on (any of STATS_COLUMNS present in the
        data; default = the first present one).  The pruned read may still
        contain out-of-range rows; callers filter."""
        manifest = self._resolve_manifest(snapshot_id)
        files, _opened, _total, file_seq = self._plan_files(manifest, between, column)
        schema = _struct(manifest.get("table_schema", manifest["schema"]))
        if not files:
            return spark.createDataFrame([], schema)

        def scan(rels):
            # The recorded table schema covers every snapshot's columns
            # (union by name, Iceberg's add-column evolution); a file
            # without a column reads it as NULL, and no Spark job merges
            # footers.  A manifest from before the table schema was
            # recorded keeps the mergeSchema scan.
            reader = (
                spark.read.schema(schema) if "table_schema" in manifest
                else spark.read.option("mergeSchema", "true")
            )
            return reader.parquet(*(str(self.path / f) for f in rels))

        deletes = manifest.get("delete_files", [])
        if not deletes:
            return scan(files)
        # Equality deletes (Iceberg v2 merge-on-read): a delete hides rows
        # only in data chunks OLDER than itself, so files group by WHICH
        # deletes apply (at most one group per distinct delete sequence +
        # one for post-delete data — typically two between compactions).
        # Delete key sets are small next to the data; each anti-join
        # broadcasts them.
        from pyspark.sql import functions as F

        groups: dict = {}
        for rel in files:
            applicable = tuple(
                d["path"] for d in deletes if d["seq"] > file_seq.get(rel, 0)
            )
            groups.setdefault(applicable, []).append(rel)
        parts = []
        for applicable, rels in sorted(groups.items()):
            part = scan(rels)
            if applicable:
                key = deletes[0]["key"]
                dkeys = spark.read.parquet(
                    *(str(self.path / p) for p in applicable)
                ).select(key).distinct()
                part = part.join(F.broadcast(dkeys), key, "left_anti")
            parts.append(part)
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part, allowMissingColumns=True)
        return out

    def pruned_file_count(
        self, between: tuple, snapshot_id: str | None = None, column: str | None = None
    ) -> tuple[int, int]:
        """(files kept, total files) for a range — observability of pruning."""
        manifest = self._resolve_manifest(snapshot_id)
        files, _opened, _total, _seq = self._plan_files(manifest, between, column)
        total = sum(s["n_files"] for s in self._chunk_summaries(manifest))
        return len(files), total

    def plan_stats(
        self, between: tuple, snapshot_id: str | None = None, column: str | None = None
    ) -> dict:
        """Planning-cost observability: how much METADATA a pruned scan
        touches.  ``chunks_opened`` is the number of manifest chunk files
        read (the driver-side planning I/O); a selective range over a big
        table must open only the chunks whose summary envelope intersects
        it."""
        manifest = self._resolve_manifest(snapshot_id)
        files, opened, total, _seq = self._plan_files(manifest, between, column)
        return {"files_kept": len(files), "chunks_opened": opened, "chunks_total": total}

    def history(self) -> list[dict]:
        out = []
        for p in self._manifests():
            with open(p, encoding="utf-8") as f:
                m = json.load(f)
            out.append(
                {
                    "sequence": m["sequence"],
                    "snapshot_id": m["snapshot_id"],
                    "parent_id": m["parent_id"],
                    "committed_at_ms": m["committed_at_ms"],
                    # chunk summaries carry file counts: history never opens chunks
                    "n_files": sum(s["n_files"] for s in self._chunk_summaries(m)),
                    "summary": m["summary"],
                }
            )
        return out

    def rollback_latest(self, snapshot_id: str) -> bool:
        """Withdraw the LATEST snapshot iff it is ``snapshot_id``; returns
        whether it was removed.

        Used by job loops that discover post-commit that a batch contributed
        nothing (e.g. every row content-deduped away) and want the manifest
        chain to stay junk-free.  Only the manifest file is unlinked — the
        snapshot becomes invisible atomically; its (empty/trivial) chunk
        files and data dir are left for the age-gated orphan sweep in
        expire_snapshots, so a concurrent writer that already read this
        manifest as its parent never loses chunk files it referenced.  If a
        newer snapshot exists the rollback is refused (the chain above it
        depends on this manifest's chunk list)."""
        manifests = self._manifests()
        if not manifests:
            return False
        with open(manifests[-1], encoding="utf-8") as f:
            m = json.load(f)
        if m["snapshot_id"] != snapshot_id:
            return False
        os.unlink(manifests[-1])
        return True

    # -- maintenance -----------------------------------------------------------
    def compact(self, spark: SparkSession, target_partitions: int = 1) -> str:
        """Rewrite the table into ``target_partitions`` files as a new
        REPLACING snapshot (Iceberg rewrite_data_files analog).  Old data
        files stay on disk for time travel of older snapshots; readers of
        the new snapshot list only the compacted files.  Raises
        ConflictError if a concurrent append commits between the read and
        the replacing commit (its rows would otherwise vanish from the
        latest snapshot) — rerun compact to pick the new rows up."""
        expected = self.snapshot_id()
        current = self.read(spark).coalesce(target_partitions)
        return self.append(
            current, summary={"op": "compact"}, _replace=True, _expected_parent=expected
        )

    def merge_upsert(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: str = "url",
        summary: dict | None = None,
    ) -> dict:
        """Keyed MERGE (Iceberg ``MERGE INTO`` copy-on-write analog): rows
        whose ``key`` matches an update row are replaced by the update row,
        unmatched update rows are inserted, and ONLY the data files that
        actually contain a matching key are rewritten — the crawl-refresh
        write path ("this month's recrawl of 0.1% of urls" must not rewrite
        the table).

        File selection is two-staged like the read path: the updates' key
        envelope prunes candidate files through the chunked manifest stats
        (metadata only), then one key-column-only scan of the survivors
        finds the files with a REAL hit (parquet column pruning makes this
        a key-column read, never the payloads).  Untouched manifest chunks
        are carried into the new snapshot AS-IS (no I/O, no stats rebuild);
        partially-hit chunks are rebuilt from their already-recorded
        per-file stats — no parquet footer is ever re-read for a kept file.

        Semantics: update rows win whole-row (no column-level merge); if
        ``updates`` carries duplicate keys, ALL its rows are inserted —
        callers dedupe upstream when keys must stay unique.  The commit
        validates against the snapshot the merge was computed FROM, so a
        concurrent append raises ConflictError instead of losing rows
        (same contract as compact).

        Returns ``{"snapshot_id", "files_rewritten", "files_kept",
        "candidate_files", "rows_inserted"}``; ``snapshot_id`` is None when
        ``updates`` is empty (no commit)."""
        from pyspark.sql import functions as F

        expected = self.snapshot_id()
        if expected is None:
            sid = self.append(updates, summary={"op": "merge-upsert", **(summary or {})})
            manifest = self.latest_manifest()
            n = manifest["summary"].get("n_rows", 0)
            return {
                "snapshot_id": sid, "files_rewritten": 0, "files_kept": 0,
                "candidate_files": 0, "rows_inserted": n,
            }
        manifest = self._resolve_manifest(expected)
        if manifest.get("delete_files"):
            # the survivors scan below reads hit files DIRECTLY; applying
            # per-sequence equality deletes inside it would entangle two
            # write paths — the safe, documented order is compact (which
            # applies deletes) then merge
            raise ConflictError(
                "merge_upsert over pending equality deletes: run compact() "
                "first (it applies and clears the delete files)"
            )

        env = updates.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
        if env["lo"] is None:
            return {
                "snapshot_id": None, "files_rewritten": 0,
                "files_kept": sum(s["n_files"] for s in self._chunk_summaries(manifest)),
                "candidate_files": 0, "rows_inserted": 0,
            }

        candidates, _opened, _total, _seq = self._plan_files(
            manifest, (env["lo"], env["hi"]), key
        )
        update_keys = updates.select(key).distinct()
        hit_rel: set = set()
        if candidates:
            # key-column-only probe of the candidate files: which of them
            # REALLY contain a matching key (file-granular CoW scope)
            probe = (
                spark.read.parquet(*(str(self.path / f) for f in candidates))
                .select(F.input_file_name().alias("_file"), F.col(key))
                .join(F.broadcast(update_keys), key, "left_semi")
                .select("_file")
                .distinct()
            )
            prefix = self.path.resolve().as_uri().rstrip("/") + "/"
            for row in probe.collect():
                uri = row["_file"]
                if uri.startswith(prefix):
                    hit_rel.add(uri[len(prefix):])
                else:  # path form differences (no file:// scheme)
                    hit_rel.add(str(Path(uri.replace("file:", "")).resolve()
                                    .relative_to(self.path.resolve())))

        if hit_rel:
            survivors = (
                spark.read.option("mergeSchema", "true")
                .parquet(*(str(self.path / f) for f in sorted(hit_rel)))
                .join(F.broadcast(update_keys), key, "left_anti")
            )
            new_data = survivors.unionByName(updates, allowMissingColumns=True)
        else:
            new_data = updates

        snapshot_id = uuid.uuid4().hex[:16]
        data_dir = self.path / "data" / snapshot_id
        new_data.write.mode("overwrite").parquet(str(data_dir))
        new_files = sorted(
            str(p.relative_to(self.path))
            for p in data_dir.rglob("*.parquet")
            if p.is_file()
        )
        file_stats = self._collect_file_stats(new_files)
        new_chunks = [
            self._write_chunk(new_files[i : i + self.CHUNK_MAX_FILES], file_stats)
            for i in range(0, len(new_files), self.CHUNK_MAX_FILES)
        ] if new_files else []

        carried: list[dict] = []
        kept_count = 0
        for s in self._chunk_summaries(manifest):
            chunk = s["inline"] if "inline" in s else self._load_chunk(s)
            chunk_files = chunk["files"]
            if hit_rel.isdisjoint(chunk_files):
                if "inline" in s:  # legacy pseudo-chunk: materialise it
                    carried.append(self._write_chunk(chunk_files, chunk.get("file_stats", {})))
                else:
                    carried.append(s)
                kept_count += len(chunk_files)
                continue
            kept = [f for f in chunk_files if f not in hit_rel]
            kept_count += len(kept)
            if kept:  # rebuild from the chunk's own recorded stats: no footer I/O
                rebuilt = self._write_chunk(kept, chunk.get("file_stats", {}))
                # the kept files keep their DATA age (delete applicability),
                # not the rebuild's commit sequence
                if "added_seq" in s:
                    rebuilt["added_seq"] = s["added_seq"]
                carried.append(rebuilt)

        # Accounting (review finding): the new chunks' footer total counts
        # the rewritten files' SURVIVOR rows too, so it is the physical
        # write size, NOT the upsert size — reporting it as rows_inserted
        # made every history rollup double-count survivors.  The upsert
        # size is the update batch itself (one count job over the
        # batch-sized input); survivors = written - upserted.
        n_written = sum(c.get("rows", 0) for c in new_chunks)
        n_upserted = updates.count()

        def build_chunks(parent, seq):
            for c in new_chunks:
                c["added_seq"] = seq
            return carried + new_chunks

        self._commit(
            snapshot_id,
            new_data.schema.json(),
            {
                "op": "merge-upsert",
                "n_rows": n_upserted,
                "n_rows_written": n_written,
                "files_rewritten": len(hit_rel),
                **(summary or {}),
            },
            build_chunks,
            expected_parent=expected,
        )
        return {
            "snapshot_id": snapshot_id,
            "files_rewritten": len(hit_rel),
            "files_kept": kept_count,
            "candidate_files": len(candidates),
            "rows_inserted": n_upserted,
            "rows_written": n_written,
            "rows_carried": n_written - n_upserted,
        }

    def delete_where(
        self,
        spark: SparkSession,
        keys: DataFrame,
        key: str = "url",
        summary: dict | None = None,
    ) -> dict:
        """Equality delete (Iceberg v2 merge-on-read): record the keys in a
        small delete file and commit — NO data file is read or rewritten,
        which is the only viable "remove these urls" at 100 TB (GDPR/opt-out
        takedowns).  ``read()`` anti-joins the delete keys against data
        chunks OLDER than the delete (sequence semantics: a row re-appended
        AFTER the delete stays visible); ``compact()`` applies the deletes
        physically and clears them.  All live delete files must share one
        key column (mixed-key merge-on-read is ambiguous — ValueError).

        Returns ``{"snapshot_id", "n_delete_files"}``; no commit when
        ``keys`` is empty (snapshot_id None)."""
        manifest = self.latest_manifest()
        if manifest is None:
            raise FileNotFoundError(f"no committed snapshot in {self.path}")
        snapshot_id = uuid.uuid4().hex[:16]
        del_dir = self.path / "data" / f"{snapshot_id}-del"
        dkeys = keys.select(key).distinct()
        dkeys.coalesce(1).write.mode("overwrite").parquet(str(del_dir))
        new_files = sorted(
            str(p.relative_to(self.path))
            for p in del_dir.rglob("*.parquet")
            if p.is_file()
        )
        n_keys = sum(
            s.get("rows", 0) for s in self._collect_file_stats(new_files).values()
        )
        if n_keys == 0:
            return {"snapshot_id": None, "n_delete_files": len(manifest.get("delete_files", []))}

        def build_chunks(parent, seq):
            return self._chunk_summaries(parent) if parent else []

        def build_deletes(parent, seq):
            prior = list(parent.get("delete_files", [])) if parent else []
            # validated against the FRESH parent on every CAS retry: two
            # concurrent delete_where calls with different keys both pass
            # a pre-loop check against the same stale manifest, then the
            # retry rebases the loser onto the winner's deletes and the
            # table ends up with mixed keys read() cannot apply (review
            # finding) — the invariant must hold where the rebase happens.
            for d in prior:
                if d["key"] != key:
                    raise ValueError(
                        f"table already carries equality deletes on {d['key']!r}; "
                        f"mixed delete keys ({key!r}) are not supported — compact first"
                    )
            return prior + [
                {"path": rel, "seq": seq, "key": key, "n_keys": n_keys}
                for rel in new_files
            ]

        self._commit(
            snapshot_id,
            None,  # carry the fresh parent's schema (see _commit)
            {"op": "equality-delete", "n_delete_keys": n_keys, **(summary or {})},
            build_chunks,
            build_deletes=build_deletes,
        )
        return {
            "snapshot_id": snapshot_id,
            "n_delete_files": len(self.latest_manifest().get("delete_files", [])),
        }

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Expire all but the last ``keep_last`` snapshots and DELETE data
        files referenced only by expired ones (Iceberg expire_snapshots +
        remove_orphan_files analog).  Time travel to expired snapshots is
        gone; live snapshots are untouched."""
        manifests = self._manifests()
        if not manifests:
            return {"expired": 0, "deleted_files": 0}
        keep, drop = manifests[-keep_last:], manifests[:-keep_last]
        # NO early return when nothing would be dropped: the gutted-keeper
        # detection below must run on every call, so a manifest gutted by a
        # crashed prior expire is repaired by simply rerunning expire with
        # the same keep_last — not only once enough new snapshots
        # accumulate to push something over the drop edge.

        def _manifest_files_and_chunks(p: Path, tolerate_missing: bool) -> tuple[set, set]:
            with open(p, encoding="utf-8") as f:
                m = json.load(f)
            files: set = set()
            chunks: set = set()
            for s in self._chunk_summaries(m):
                if "inline" in s:
                    chunk = s["inline"]
                else:
                    chunks.add(s["path"])
                    try:
                        chunk = self._load_chunk(s)
                    except FileNotFoundError:
                        # A crash in a previous expire between chunk deletion
                        # and manifest unlink leaves a DROPPED manifest
                        # referencing deleted chunks; tolerating the gap for
                        # the drop side keeps expire retryable.  A LIVE
                        # manifest missing a chunk is table corruption and
                        # must surface — treating its files as absent could
                        # delete still-referenced data.
                        if tolerate_missing:
                            continue
                        raise
                files.update(chunk["files"])
            # equality-delete files are snapshot-referenced data too: live
            # ones must never be swept, expired-only ones must be
            files.update(d["path"] for d in m.get("delete_files", []))
            return files, chunks

        live_files: set = set()
        live_chunks: set = set()
        for p in list(keep):
            try:
                fs, cs = _manifest_files_and_chunks(p, tolerate_missing=False)
            except FileNotFoundError:
                # A manifest whose chunks are gone was gutted by a previous
                # expire that crashed before unlinking it; it is unusable
                # for reads by definition, so a later call with a LARGER
                # keep_last must not wedge on it — reclassify it as dropped
                # and finish the interrupted cleanup.
                keep.remove(p)
                drop.append(p)
                continue
            live_files |= fs
            live_chunks |= cs
        if not keep:
            # every candidate keeper was gutted: refuse rather than delete
            # the only (broken) history — surface the corruption instead
            raise FileNotFoundError(
                f"all {len(drop)} remaining manifests in {self.snapshot_dir} "
                "reference missing chunks; table needs manual repair"
            )
        if not drop:
            # nothing to expire, but rollback/crashed-append remnants must
            # not wait for a future drop to be reclaimed
            self._orphan_sweep(live_files, live_chunks)
            return {"expired": 0, "deleted_files": 0}
        # Collect the expired reachable set FIRST, delete once afterwards:
        # chunks are structurally shared across snapshots, so deleting while
        # iterating would break a later dropped manifest that still
        # references an earlier snapshot's chunk.
        drop_files: set = set()
        drop_chunks: set = set()
        for p in drop:
            fs, cs = _manifest_files_and_chunks(p, tolerate_missing=True)
            drop_files |= fs
            drop_chunks |= cs
        deleted = 0
        for rel in drop_files - live_files:
            fp = self.path / rel
            if fp.exists():
                fp.unlink()
                deleted += 1
        for cname in drop_chunks - live_chunks:
            cp = self.snapshot_dir / cname
            if cp.exists():
                cp.unlink()
        for p in drop:
            os.unlink(p)
        self._orphan_sweep(live_files, live_chunks)
        return {"expired": len(drop), "deleted_files": deleted}

    #: age gate for orphan reclamation: chunk files and data dirs are
    #: written BEFORE their manifest commits, so a young orphan may belong
    #: to an in-flight append (same rationale as the .tmp cleanup in
    #: _manifests).
    ORPHAN_AGE_S = 3600

    def _orphan_sweep(self, live_files: set, live_chunks: set) -> None:
        """Age-gated reclamation of metadata and data no manifest references.

        Orphan CHUNKS come from a crashed append (or one that exhausted its
        commit retries).  Orphan DATA DIRS (``data/<snapshot_id>``) come
        from the same crashes plus ``rollback_latest``, whose contract
        says the withdrawn snapshot's files fall to this sweep.  Both are
        deleted only once older than ORPHAN_AGE_S; a concurrent append
        committed after our manifest listing re-references its parent's
        chunks/files, and its own new files are young — never raced."""
        referenced_chunks: set = set(live_chunks)
        referenced_dirs: set = {
            rel.split("/")[1] for rel in live_files if rel.startswith("data/")
        }
        for p in self._manifests():
            with open(p, encoding="utf-8") as f:
                m = json.load(f)
            referenced_dirs |= {
                d["path"].split("/")[1]
                for d in m.get("delete_files", [])
                if d["path"].startswith("data/")
            }
            for s in self._chunk_summaries(m):
                if "path" in s:
                    if s["path"] in live_chunks:
                        continue  # files already accounted in live_files
                    referenced_chunks.add(s["path"])
                try:
                    chunk = s["inline"] if "inline" in s else self._load_chunk(s)
                except FileNotFoundError:
                    continue
                referenced_dirs |= {
                    rel.split("/")[1] for rel in chunk["files"] if rel.startswith("data/")
                }
        now = time.time()
        for cp in self.snapshot_dir.glob("chunk-*.json"):
            if cp.name not in referenced_chunks:
                try:
                    if now - cp.stat().st_mtime > self.ORPHAN_AGE_S:
                        cp.unlink()
                except OSError:
                    pass
        data_root = self.path / "data"
        if not data_root.is_dir():
            return
        import shutil

        for d in data_root.iterdir():
            if not d.is_dir():
                continue
            if d.name not in referenced_dirs:
                # unreferenced dirs — even EMPTY ones — are only removed
                # past the age gate: a concurrent append creates its
                # data/<snap> dir (briefly empty) before anything is
                # referenced, and an un-aged rmdir would race it
                try:
                    newest = max(
                        [d.stat().st_mtime] + [p.stat().st_mtime for p in d.rglob("*")]
                    )
                    if now - newest > self.ORPHAN_AGE_S:
                        shutil.rmtree(d)
                except OSError:
                    pass
                continue
            # referenced dirs that became empty after per-file deletion
            # (expire of a superseded compact) are pruned immediately —
            # their snapshot is committed, nothing in-flight owns them
            try:
                if not any(d.iterdir()):
                    d.rmdir()
            except OSError:
                pass
