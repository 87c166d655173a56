"""Out-of-row blob storage (parity: reference GridFS layer, SURVEY §2.8).

The reference moves every large binary into GridFS chunks on insert and
replaces it with a ``__gridfs_file_<key>: ObjectId`` pointer
(reference database.py:119-132), reversing on read (database.py:134-143),
with a lazy-skip mode (database.py:174,202-204) and GC on delete
(database.py:268-278).

Spark-side policy: big ``BinaryType`` cells are written as individual
files under a blob directory and the cell is replaced by a pointer struct
``{__blob__: path, size: n}``.  Both directions are one function over an
Arrow record batch (``externalize_batch`` / ``rehydrate_batch``).  On a
DataFrame they run distributed under ``mapInArrow`` — each executor
writes or reads its own partition's blobs (no driver fan-in);
``ParquetStorage.insert_many`` runs ``externalize_batch`` on the driver
over the batch it is about to append.  Lazy skip is free: don't resolve
the pointer column (column pruning never reads the bytes).  At 100 TB
this is the difference between a 16 MB row limit and none: rows stay
small, scans stay columnar, blobs stream straight from the file system
only when actually selected.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_THRESHOLD = 16 * 1024 * 1024  # MongoDB's 16MB doc cap motivated GridFS

_POINTER_FIELDS = ("__blob__", "size")

POINTER_TYPE = T.StructType(
    [
        T.StructField("__blob__", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("inline", T.BinaryType()),
    ]
)


def binary_columns(schema: T.StructType) -> list[str]:
    return [f.name for f in schema.fields if isinstance(f.dataType, T.BinaryType)]


def _pointer_columns(schema: T.StructType) -> list[str]:
    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, T.StructType)
        and {sf.name for sf in f.dataType.fields} >= set(_POINTER_FIELDS)
    ]


def _retyped(schema: T.StructType, columns: list[str], dtype: T.DataType) -> T.StructType:
    return T.StructType(
        [T.StructField(f.name, dtype, True) if f.name in columns else f for f in schema.fields]
    )


def externalized_schema(schema: T.StructType, columns: list[str]) -> T.StructType:
    """``schema`` with the binary ``columns`` turned into pointer structs."""
    return _retyped(schema, columns, POINTER_TYPE)


def externalize_batch(batch, columns: list[str], blob_dir: str, threshold: int, id_col: str = "_id"):
    """One ``pyarrow.RecordBatch`` with its binary ``columns`` replaced
    by pointer structs.

    A cell over ``threshold`` bytes is written to
    ``<blob_dir>/<id>_<column>.bin`` (a random id when the batch has no
    ``id_col``) and becomes ``{path, size, null}``; a cell at or under
    it stays in-row as ``{null, size, bytes}``, so small payloads keep
    their locality — mirroring GridFS being applied only to big blobs.
    A null cell stays null."""
    import uuid

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    pointer = to_arrow_type(POINTER_TYPE)
    names = batch.schema.names
    ids = batch.column(id_col).to_pylist() if id_col in names else None
    arrays = []
    for name, column in zip(names, batch.columns):
        if name not in columns:
            arrays.append(column)
            continue
        paths, sizes, inline = [], [], []
        for pos, cell in enumerate(column.to_pylist()):
            path = None
            if cell is not None and len(cell) > threshold:
                doc_id = ids[pos] if ids is not None else uuid.uuid4().hex
                path = os.path.join(blob_dir, f"{doc_id}_{name}.bin")
                with open(path, "wb") as fh:
                    fh.write(cell)
            paths.append(path)
            sizes.append(None if cell is None else len(cell))
            inline.append(cell if path is None else None)
        arrays.append(
            pa.StructArray.from_arrays(
                [pa.array(paths, pa.string()), pa.array(sizes, pa.int64()), pa.array(inline, pa.binary())],
                fields=list(pointer),
                mask=column.is_null(),
            )
        )
    return pa.RecordBatch.from_arrays(arrays, names=names)


def rehydrate_batch(batch, columns: list[str]):
    """One ``pyarrow.RecordBatch`` with its pointer ``columns`` resolved
    back to binary: inline bytes as they are, external ones read from
    their file, a null pointer (or one without either) as null."""
    import pyarrow as pa

    names = batch.schema.names
    arrays = []
    for name, column in zip(names, batch.columns):
        if name not in columns:
            arrays.append(column)
            continue
        resolved = []
        for cell in column.to_pylist():
            if cell is None:
                resolved.append(None)
            elif cell.get("inline") is not None:
                resolved.append(cell["inline"])
            elif cell["__blob__"] is None:
                resolved.append(None)
            else:
                with open(cell["__blob__"], "rb") as fh:
                    resolved.append(fh.read())
        arrays.append(pa.array(resolved, pa.binary()))
    return pa.RecordBatch.from_arrays(arrays, names=names)


def externalize_blobs(
    df: DataFrame,
    blob_dir: str,
    threshold: int = DEFAULT_THRESHOLD,
    columns: list[str] | None = None,
    id_col: str = "_id",
) -> DataFrame:
    """Replace oversized binary cells with pointer structs
    (``externalize_batch`` per Arrow batch, distributed)."""
    columns = columns or binary_columns(df.schema)
    if not columns:
        return df
    os.makedirs(blob_dir, exist_ok=True)

    def _write_batches(batches):
        for batch in batches:
            yield externalize_batch(batch, columns, blob_dir, threshold, id_col)

    return df.mapInArrow(_write_batches, externalized_schema(df.schema, columns))


def rehydrate_blobs(
    df: DataFrame, columns: list[str] | None = None, skip_fetch_binary: bool = False
) -> DataFrame:
    """Reverse transform: pointer structs -> binary cells
    (``rehydrate_batch`` per Arrow batch, distributed: one pass resolves
    every pointer column of the batch).

    ``skip_fetch_binary=True`` leaves pointers unresolved (parity:
    reference database.py:174 slow-connection path) — the cheap path,
    since unresolved pointers never touch the blob files at all.
    """
    if columns is None:
        columns = _pointer_columns(df.schema)
    if not columns or skip_fetch_binary:
        return df

    def _fetch_batches(batches):
        for batch in batches:
            yield rehydrate_batch(batch, columns)

    return df.mapInArrow(_fetch_batches, _retyped(df.schema, columns, T.BinaryType()))


def collect_blob_paths(df: DataFrame, columns: list[str] | None = None) -> list[str]:
    """All externalized file paths referenced by these rows — the delete-side
    maintenance input (parity: GridFS GC, reference database.py:268-278)."""
    if columns is None:
        columns = _pointer_columns(df.schema)
    paths: list[str] = []
    for name in columns:
        rows = (
            df.select(F.col(name)["__blob__"].alias("p"))
            .filter(F.col("p").isNotNull())
            .collect()
        )
        paths.extend(r["p"] for r in rows)
    return paths


def delete_blobs(paths: list[str]) -> int:
    removed = 0
    for path in paths:
        try:
            os.remove(path)
            removed += 1
        except FileNotFoundError:
            pass
    return removed
