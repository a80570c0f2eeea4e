"""Event-table sources.

The reference reads event tables from parquet/h5/json/csv folders
(``readDataframe``, ``/root/reference/mpes/fprocessing.py:1962-2027``)
after gathering + natural-sorting file lists (``FileCollection``,
``/root/reference/mpes/base.py:91-182``). Spark's reader replaces all
of it: path globs, schema inference from parquet footers, partitioned
parallel scan sized by ``spark.sql.files.maxPartitionBytes`` (the
reference hand-chunks at 1e6 events, ``CHUNK_SIZE``,
``/root/reference/mpes/fprocessing.py:476``). :func:`read_table`
infers a local source's schema once per session.

HDF5 ingestion (the reference's native acquisition format) is modeled
as an offline convert-to-parquet adapter: h5py is not available in
this environment, so the executor-side reader is a documented stub —
the Spark-side plumbing (file-list parallelism via ``mapInPandas``
over a path relation) is real.
"""

from __future__ import annotations

import glob
import os
import re
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpes_spark.sqltext import qcol


def _natural_key(path: str):
    """Natural sort key (digit runs compare numerically) — replaces
    natsort in ``FileCollection._sort_terms``
    (``/root/reference/mpes/base.py:71-89``)."""
    return [int(s) if s.isdigit() else s for s in re.split(r"(\d+)", os.path.basename(path))]


def gather_files(folder: str, identifier: str = "*.parquet") -> list[str]:
    """Driver-side file discovery + natural sort (``FileCollection.gather``,
    ``/root/reference/mpes/base.py:91-119``)."""
    return sorted(glob.glob(os.path.join(folder, identifier)), key=_natural_key)


class FileCollection:
    """Natural-sorted file list with set ops and id-selection —
    the reference's scan-source abstraction (``FileCollection``,
    ``/root/reference/mpes/base.py:34-182``): ``+`` unions two
    collections, ``filter`` keeps substring matches, ``select`` slices
    by id with keep/remove semantics."""

    def __init__(self, files: list[str] | None = None):
        self.files: list[str] = sorted(set(files or []), key=_natural_key)

    @classmethod
    def gather(cls, folder: str, identifier: str = "*.parquet") -> "FileCollection":
        return cls(gather_files(folder, identifier))

    def __len__(self) -> int:
        return len(self.files)

    def __add__(self, other: "FileCollection") -> "FileCollection":
        return FileCollection(self.files + other.files)

    def __sub__(self, other: "FileCollection") -> "FileCollection":
        drop = set(other.files)
        return FileCollection([f for f in self.files if f not in drop])

    def filter(self, wexpr: str) -> "FileCollection":
        return FileCollection([f for f in self.files if wexpr in os.path.basename(f)])

    def select(
        self,
        ids: list[int] | slice,
        update: str = "keep",
    ) -> "FileCollection":
        if isinstance(ids, slice):
            picked = self.files[ids]
        else:
            picked = [self.files[i] for i in ids]
        if update == "remove":
            return self - FileCollection(picked)
        return FileCollection(picked)

    def read(self, spark: SparkSession, **kw) -> DataFrame:
        if not self.files:
            raise ValueError("empty file collection")
        return read_table(spark, self.files, **kw)


def normalize_event_time(df: DataFrame, ts: str = "ts") -> DataFrame:
    """Restore the repo-wide event-time contract: the event-time
    column ``ts`` is an epoch-NANOSECOND BIGINT. This is the one
    converter from TIMESTAMP / TIMESTAMP_NTZ; a column of any other
    type is left as it is.

    The synthetic event tables have shipped as both TIMESTAMP(NANOS)
    parquet (which Spark 4 reads as nanosecond longs under
    ``spark.sql.legacy.parquet.nanosAsLong``) and plain
    TIMESTAMP(MICROS) parquet (which Spark reads as TimestampType
    regardless of that flag). Every downstream time operator —
    count-rate, elapsed-time, session/tumbling windows, as-of joins —
    works on raw epoch-nanos integers, which is also what keeps the
    DuckDB oracle comparison timezone-independent (``epoch_ns(ts)``
    yields the same integers for either physical type). Converting at
    the read seam is a pure column projection (no shuffle, survives
    pushdown of predicates on other columns)."""
    dt = dict(df.dtypes).get(ts)
    if dt == "timestamp_ntz":
        # wall-time arithmetic: timezone-independent (a cast to LTZ
        # would shift the epoch under any non-UTC session timezone —
        # including the driver's, which this library does not control)
        micros = F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {qcol(ts)})"
        )
        df = df.withColumn(ts, (micros * F.lit(1000)).cast("long"))
    elif dt == "timestamp":
        df = df.withColumn(ts, (F.unix_micros(F.col(ts)) * F.lit(1000)).cast("long"))
    return df


#: per session: (ftype, paths, options) -> (file listing, inferred schema)
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _listing(paths: list[str]) -> tuple | None:
    """(path, size, mtime) of every file under ``paths``, sorted; None
    when a path is a glob or not on the local filesystem."""
    files = []
    for p in paths:
        if glob.has_magic(p) or not os.path.exists(p):
            return None
        if os.path.isdir(p):
            files += [os.path.join(d, f) for d, _, names in os.walk(p) for f in names]
        else:
            files.append(p)
    try:
        stats = [(f, os.stat(f)) for f in files]
    except FileNotFoundError:  # rewritten while listed
        return None
    return tuple(sorted((f, st.st_size, st.st_mtime_ns) for f, st in stats))


def read_table(
    spark: SparkSession,
    source: str | list[str],
    ftype: str = "parquet",
    with_file: bool = False,
    **options,
) -> DataFrame:
    """``readDataframe`` (``/root/reference/mpes/fprocessing.py:1962-2027``):
    read one path/glob/file-list into a DataFrame. ``with_file`` adds
    the originating file (``input_file_name``) for per-file queries
    like the EDC matrix.

    A source's schema is inferred once per session (for parquet that
    is a one-task Spark job reading the footers) and handed to the
    reader on later reads of the same source. The reuse is keyed by
    the file type, the paths, the reader options and the listing of
    every file under the paths (path, size, mtime), so a rewritten
    source is inferred again. A glob or a path not on the local
    filesystem cannot be listed here and is inferred on every read.
    Session confs are not part of the key: a conf that changes what
    inference returns (``spark.sql.parquet.mergeSchema``) takes effect
    for a source once it is rewritten; pass the option instead."""
    # tolerate TIMESTAMP(NANOS) parquet (read as epoch-nanos longs)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    paths = [source] if isinstance(source, str) else list(source)
    key = (ftype, tuple(paths), tuple(sorted((k, str(v)) for k, v in options.items())))
    listing = _listing(paths)
    known = _SCHEMAS.setdefault(spark, {})
    reuse = listing is not None and known.get(key, (None,))[0] == listing
    reader = spark.read.options(**options)
    if reuse:
        reader = reader.schema(known[key][1])
    if ftype == "parquet":
        df = reader.parquet(*paths)
    elif ftype == "json":
        df = reader.json(paths)
    elif ftype == "csv":
        df = reader.option("header", "true").option("inferSchema", "true").csv(paths)
    elif ftype == "orc":
        df = reader.orc(*paths)
    else:
        raise NotImplementedError(f"file type {ftype!r}")
    if listing is not None and not reuse:
        known[key] = (listing, df.schema)
    if with_file:
        df = df.withColumn("file", F.input_file_name())
    return normalize_event_time(df)


def read_events_hdf5(spark: SparkSession, paths: list[str], **spec_kw) -> DataFrame:
    """Distributed HDF5 single-event ingest (``hdf5Reader.summarize``,
    ``/root/reference/mpes/fprocessing.py:704-821``) over the
    format-agnostic ingest seam in ``mpes_spark/io/binary_source.py``
    — chunk planning, alias lookup, float32 cast, timeStamps
    reconstruction and the ``mapInPandas`` Arrow assembly all live
    there. Binding choice (r9): h5py when available (handles chunked/
    compressed files); otherwise the pure-python
    :class:`Hdf5LiteBackend` reads the reference's own
    contiguous-``Stream_N`` layout with no library at all, so the
    ingest path works in every runtime."""
    from mpes_spark.io.binary_source import (
        Hdf5Backend,
        Hdf5LiteBackend,
        IngestSpec,
        read_events_binary,
    )

    try:
        backend = Hdf5Backend()
    except NotImplementedError:  # no h5py: the lite reader takes over
        backend = Hdf5LiteBackend()
    return read_events_binary(spark, paths, backend, IngestSpec(**spec_kw))
