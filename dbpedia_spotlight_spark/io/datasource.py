"""Spark Python Data Source API (SPARK-44076, pyspark >= 4.0) front ends
for the engine's corpus formats — the modern `spark.read.format(...)`
face of the S-family sources in io/sources.py.

Two sources:

  - ``docgen`` — a deterministic synthetic-corpus GENERATOR source:
    every (doc_id, position) token is a pure md5 function of its
    coordinates, so the same options always produce the same corpus on
    any cluster size, and an independent engine can replay the exact
    rows (the `docgen_corpus` oracle does). This is the
    `input_hint`-style "synthesize the input table deterministically"
    primitive as a first-class source: `partitions()` splits the id
    range, so a 10^12-doc corpus generates embarrassingly parallel with
    no driver materialization and no shuffle.

  - ``spotlight_tsv`` — the reference's annotated-TSV occurrence corpus
    (AnnotatedTextSource,
    core/src/main/scala/org/dbpedia/spotlight/io/AnnotatedTextSource.scala,
    same 5-column layout as io/sources.py:read_annotated_tsv) as a
    partitioned reader (one InputPartition per file) WITH filter
    pushdown — `pushFilters` absorbs EqualTo / IsNotNull on the `uri`
    and `surface_form` columns so row filtering happens inside the
    Python scan, before Arrow serialization — plus a TSV writer
    (S11, TSVOutputGenerator) emitting one part file per task.

Both readers yield pyarrow RecordBatches (the vectorized path of the
API — rows cross to the JVM as Arrow buffers, never pickled one by
one). Register once per session with ``register_sources(spark)``.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    InputPartition,
    IsNotNull,
    WriterCommitMessage,
)

__all__ = [
    "DocGenDataSource",
    "SpotlightTsvDataSource",
    "TsvReader",
    "register_sources",
    "EqualTo",
    "GreaterThan",
    "IsNotNull",
]
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_US = "\x1f"


def _md5_mod(parts: list[str], mod: int) -> int:
    """48-bit md5 prefix of the US-joined parts, mod `mod` — the same
    engine-replayable keyed hash as datapipe/sketches.py (DuckDB twin:
    ('0x' || substr(md5(x), 1, 12))::BIGINT % mod)."""
    h = hashlib.md5(_US.join(parts).encode("utf-8")).hexdigest()[:12]
    return int(h, 16) % mod


# ---------------------------------------------------------------------------
# docgen — deterministic synthetic corpus generator
# ---------------------------------------------------------------------------

class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


#: pyarrow type of the interleaved `spans` column — the BASELINE
#: input-hint schema: array<struct<kind,text,media_ref,offset>>
def _spans_type():
    import pyarrow as pa

    return pa.list_(
        pa.struct(
            [
                pa.field("kind", pa.string()),
                pa.field("text", pa.string()),
                pa.field("media_ref", pa.string()),
                pa.field("offset", pa.int32()),
            ]
        )
    )


class DocGenReader(DataSourceReader):
    def __init__(self, options):
        self.n_docs = int(options.get("n_docs", 1000))
        self.doc_len = int(options.get("doc_len", 40))
        self.vocab = int(options.get("vocab", 97))
        self.n_parts = max(1, int(options.get("partitions", 8)))
        self.interleaved = (
            str(options.get("interleaved", "false")).lower() == "true"
        )

    def partitions(self):
        chunk = -(-self.n_docs // self.n_parts)  # ceil div
        return [
            _RangePartition(lo, min(lo + chunk, self.n_docs))
            for lo in range(0, self.n_docs, chunk)
        ]

    def _tokens(self, doc_id: int) -> list[str]:
        return [
            f"w{_md5_mod([str(doc_id), str(pos)], self.vocab)}"
            for pos in range(self.doc_len)
        ]

    def read(self, partition: _RangePartition) -> Iterator:
        import pyarrow as pa

        if not self.interleaved:
            ids, texts = [], []
            for doc_id in range(partition.start, partition.end):
                ids.append(doc_id)
                texts.append(" ".join(self._tokens(doc_id)))
            yield pa.RecordBatch.from_pydict(
                {"doc_id": pa.array(ids, pa.int64()),
                 "text": pa.array(texts, pa.string())}
            )
            return
        # interleaved mode: every 5th doc splits its text at the token
        # midpoint around a media span (offset = char position in the
        # doc's concatenated text; the media span carries the SECOND
        # half's start offset, where it interrupts the text)
        ids, spans = [], []
        for doc_id in range(partition.start, partition.end):
            toks = self._tokens(doc_id)
            if doc_id % 5 == 0 and len(toks) >= 2:
                h = len(toks) // 2
                first = " ".join(toks[:h])
                second = " ".join(toks[h:])
                off2 = len(first) + 1
                spans.append(
                    [
                        {"kind": "text", "text": first,
                         "media_ref": None, "offset": 0},
                        {"kind": "media", "text": None,
                         "media_ref": f"img://{doc_id}", "offset": off2},
                        {"kind": "text", "text": second,
                         "media_ref": None, "offset": off2},
                    ]
                )
            else:
                spans.append(
                    [
                        {"kind": "text", "text": " ".join(toks),
                         "media_ref": None, "offset": 0},
                    ]
                )
            ids.append(doc_id)
        yield pa.RecordBatch.from_pydict(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "spans": pa.array(spans, _spans_type()),
            }
        )


class DocGenDataSource(DataSource):
    """spark.read.format("docgen").option("n_docs", N)... -> (doc_id,
    text), or with .option("interleaved", "true") the BASELINE
    input-hint shape (doc_id, spans array<struct<kind, text, media_ref,
    offset>>) with a media span interleaved into every 5th document —
    the synthesize-the-input-table primitive for the flagship pipeline.
    Fully deterministic; id-range partitioned."""

    @classmethod
    def name(cls) -> str:
        return "docgen"

    def schema(self) -> StructType:
        if (
            str(self.options.get("interleaved", "false")).lower() == "true"
        ):
            return StructType(
                [
                    StructField("doc_id", LongType()),
                    StructField(
                        "spans",
                        ArrayType(
                            StructType(
                                [
                                    StructField("kind", StringType()),
                                    StructField("text", StringType()),
                                    StructField("media_ref", StringType()),
                                    StructField("offset", IntegerType()),
                                ]
                            )
                        ),
                    ),
                ]
            )
        return StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
            ]
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        return DocGenReader(self.options)


# ---------------------------------------------------------------------------
# spotlight_tsv — annotated occurrence corpus reader/writer
# ---------------------------------------------------------------------------

TSV_SCHEMA = StructType(
    [
        StructField("occ_id", StringType()),
        StructField("uri", StringType()),
        StructField("surface_form", StringType()),
        StructField("text", StringType()),
        StructField("offset", IntegerType()),
    ]
)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class TsvReader(DataSourceReader):
    """One InputPartition per data file; EqualTo / IsNotNull predicates
    on `uri` / `surface_form` are absorbed into the Python scan (rows
    drop before they ever become Arrow buffers); every other filter is
    returned to Spark to evaluate post-scan — the contract of
    DataSourceReader.pushFilters."""

    _PUSHABLE = ("uri", "surface_form")

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("spotlight_tsv requires a path")
        self.eq: dict = {}
        self.not_null: set = set()

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and len(f.attribute) == 1
                and f.attribute[0] in self._PUSHABLE
            ):
                self.eq[f.attribute[0]] = f.value
            elif (
                isinstance(f, IsNotNull)
                and len(f.attribute) == 1
                and f.attribute[0] in self._PUSHABLE
            ):
                self.not_null.add(f.attribute[0])
            else:
                yield f  # unsupported -> Spark evaluates it post-scan

    def partitions(self):
        if os.path.isdir(self.path):
            files = sorted(
                os.path.join(self.path, f)
                for f in os.listdir(self.path)
                # .tmp: a task file still being written (TsvWriter)
                if not f.startswith((".", "_")) and not f.endswith(".tmp")
            )
        else:
            files = [self.path]
        return [_FilePartition(p) for p in files]

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow as pa

        cols: dict = {k.name: [] for k in TSV_SCHEMA.fields}
        uri_eq = self.eq.get("uri")
        sf_eq = self.eq.get("surface_form")
        with open(partition.path, encoding="utf-8") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if not line:
                    continue
                parts = line.split("\t")
                parts += [None] * (5 - len(parts))
                occ_id, uri, sf, text, off = parts[:5]
                if uri_eq is not None and uri != uri_eq:
                    continue
                if sf_eq is not None and sf != sf_eq:
                    continue
                if "uri" in self.not_null and uri is None:
                    continue
                if "surface_form" in self.not_null and sf is None:
                    continue
                cols["occ_id"].append(occ_id)
                cols["uri"].append(uri)
                cols["surface_form"].append(sf)
                cols["text"].append(text)
                cols["offset"].append(
                    int(off) if off not in (None, "") else None
                )
        yield pa.RecordBatch.from_pydict(
            {
                "occ_id": pa.array(cols["occ_id"], pa.string()),
                "uri": pa.array(cols["uri"], pa.string()),
                "surface_form": pa.array(cols["surface_form"], pa.string()),
                "text": pa.array(cols["text"], pa.string()),
                "offset": pa.array(cols["offset"], pa.int32()),
            }
        )


def _try_unlink(path: str) -> None:
    try:
        os.unlink(path)
    except OSError:
        pass


def _part_file(path: str, pid: int) -> str:
    return os.path.join(path, f"part-{pid:05d}.tsv")


class _TsvCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class TsvWriter(DataSourceWriter):
    """S11 TSVOutputGenerator as a DataSourceWriter: each task streams
    its rows to one part-<pid> file (written to a temp name, renamed on
    success — the usual task-commit discipline)."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("spotlight_tsv requires a path")
        self.overwrite = overwrite

    def write(self, iterator) -> _TsvCommit:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        final = _part_file(self.path, pid)
        tmp = final + ".tmp"
        n = 0
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in iterator:
                vals = [
                    "" if v is None else str(v)
                    for v in (
                        row["occ_id"],
                        row["uri"],
                        row["surface_form"],
                        row["text"],
                        row["offset"],
                    )
                ]
                fh.write("\t".join(vals) + "\n")
                n += 1
        os.replace(tmp, final)
        return _TsvCommit(final, n)

    def _sweep_tmp(self, messages) -> None:
        """Unlink the part-<pid>.tsv.tmp leftovers of this job's own
        partitions (one message per partition). A .tmp under any other
        name may be a live file of another writer and is left alone."""
        for pid in range(len(messages)):
            _try_unlink(_part_file(self.path, pid) + ".tmp")

    def commit(self, messages) -> None:
        """Job commit (r4 advisory): honor overwrite — remove pre-existing
        part files NOT produced by this job (a previous write with more
        partitions would otherwise leave phantom rows behind) — and sweep
        this job's .tmp leftovers from retried tasks. Append mode keeps
        stale parts: a task replaces the part file of its own partition
        number, and the parts of a previous wider write stay readable."""
        if not os.path.isdir(self.path):
            return
        self._sweep_tmp(messages)
        if not self.overwrite:
            return
        kept = {
            os.path.basename(m.path)
            for m in messages
            if m is not None and getattr(m, "path", None)
        }
        for f in os.listdir(self.path):
            if f.startswith("part-") and f.endswith(".tsv") and f not in kept:
                _try_unlink(os.path.join(self.path, f))

    def abort(self, messages) -> None:
        """Job abort: delete whatever this job managed to write — the
        part files named in the commit messages of succeeded tasks and
        the .tmp files of its in-flight ones — so a failed job leaves the
        destination as it found it."""
        if not os.path.isdir(self.path):
            return
        for m in messages:
            if m is not None and getattr(m, "path", None):
                _try_unlink(m.path)
        self._sweep_tmp(messages)


class SpotlightTsvDataSource(DataSource):
    """spark.read.format("spotlight_tsv").load(path) /
    df.write.format("spotlight_tsv").save(path)."""

    @classmethod
    def name(cls) -> str:
        return "spotlight_tsv"

    def schema(self) -> StructType:
        return TSV_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return TsvReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return TsvWriter(self.options, overwrite)


def register_sources(spark) -> None:
    """Idempotently register both formats on the session, and enable
    Python-source filter pushdown (off by default; a reader that
    implements pushFilters errors without it)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DocGenDataSource)
    spark.dataSource.register(SpotlightTsvDataSource)
