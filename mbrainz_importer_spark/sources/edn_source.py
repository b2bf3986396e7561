"""Distributed EDN file source (SURVEY.md §2.1 S1–S5).

The reference streams EDN forms off a PushbackReader on a dedicated thread
(src/cognitect/xform/async_edn.clj:27-51). Spark-first equivalent: the
driver lists the matched files into a literal (path, rank) relation, and an
Arrow-batched `mapInPandas` generator opens each file executor-side and
feeds it to the incremental form parser, yielding bounded chunks —
parallelism across files, memory bounded by the largest form. With
`whole_file=True`, or for a URI scheme no filesystem library can open,
each file is instead one row of `spark.read.text(..., wholetext=True)`
(same rows, memory bounded by the largest file).

A `_row_idx` column captures form order within the file: the reference gets
stable input order implicitly from the file stream; we materialize it
because batch numbering (G3) and media run-grouping (G1) depend on it
(SURVEY.md §7.4.1). With a glob input the key is composed as
`file_ordinal * 2^40 + in_file_index` (files ranked by sorted path,
driver-side listing without content read), so the total order — and hence
batch membership under the idempotency contract — stays deterministic
run-to-run across any number of files.

Scale note: EDN is the reference's interchange format, kept for parity and
for golden tests. A 100 TB deployment would land data as Parquet/JSONL and
skip this source entirely; everything downstream of here is format-agnostic
DataFrames.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..edn import iter_forms
from ..operators.localrel import local_df

CHUNK = 2048
_FILE_STRIDE = 1 << 40  # max forms per file before ordinals collide


def _strip_kw(k):
    return k[1:] if isinstance(k, str) and k.startswith(":") else k


def _norm_path(p: str) -> str:
    """Normalize 'file:///x', 'file:/x', '/x' to one comparable form."""
    if "://" in p:
        p = p.split("://", 1)[1]
    elif p.startswith("file:"):
        p = p[len("file:"):]
    return "/" + p.lstrip("/")


def _file_ranks(spark: SparkSession, path: str) -> dict[str, int]:
    """Deterministic ordinal per matched file, by sorted path. Uses the
    binaryFile source with a path-only projection so file CONTENT is never
    read for the listing."""
    rows = spark.read.format("binaryFile").load(path).select("path").collect()
    files = sorted(_norm_path(r["path"]) for r in rows)
    return {f: i for i, f in enumerate(files)}


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips: `_`/`.` prefixes (markers such as
    _SUCCESS, dot-files) and in-flight `._COPYING_` files."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _local_file_ranks(path: str) -> dict[str, int]:
    """`_file_ranks` for a local path, listed on the driver with no Spark
    job. Same files: a directory gives its direct non-hidden files, a glob
    (Python glob syntax) its non-hidden matches, a matched directory its
    direct files. Same sorted-path ranks. A missing path or a glob that
    matches nothing raises, as Spark's reader does."""
    local = os.path.abspath(_norm_path(path) if _uri_scheme(path) else path)
    if any(w in local for w in _WILDCARDS):
        matches = [m for m in glob.glob(local) if not _hidden(os.path.basename(m))]
    else:
        matches = [local] if os.path.exists(local) else []
    if not matches:
        raise FileNotFoundError(f"Path does not exist: {path}")
    files = []
    for m in matches:
        if os.path.isdir(m):
            files.extend(
                os.path.join(m, n) for n in os.listdir(m)
                if not _hidden(n) and os.path.isfile(os.path.join(m, n))
            )
        elif not _hidden(os.path.basename(m)):
            files.append(m)
    return {f: i for i, f in enumerate(sorted(files))}


_READ_CHUNK = 1 << 20  # 1 MiB of text per incremental parser feed

# ---------------------------------------------------------------------------
# Object-store access. Invariant: every path whose scheme some filesystem
# layer can open streams with form-bounded memory, and every other path
# still reads with identical results. The per-task open and the
# driver-side listing dispatch on the URI scheme: POSIX for local paths,
# fsspec when it registers the scheme, else PyArrow's pyarrow.fs
# (S3/GCS/HDFS). Unknown schemes fall back to the wholetext reader, whose
# Hadoop connectors may still handle them (e.g. s3a:// with hadoop-aws),
# at file-bounded memory.

_LOCAL_SCHEMES = ("", "file")
# Hadoop-ecosystem scheme names PyArrow spells differently.
_ARROW_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3", "gs": "gcs"}
_WILDCARDS = ("*", "?", "[")


def _uri_scheme(p: str) -> str:
    if "://" in p:
        return p.split("://", 1)[0].lower()
    if p.startswith("file:"):
        return "file"
    return ""


def _arrow_fs(uri: str):
    """(filesystem, inner_path) for a URI, normalizing Hadoop scheme
    aliases that PyArrow rejects (s3a:// -> s3://)."""
    from pyarrow import fs as pafs

    scheme = _uri_scheme(uri)
    alias = _ARROW_SCHEME_ALIASES.get(scheme)
    if alias:
        uri = alias + uri[len(scheme):]
    return pafs.FileSystem.from_uri(uri)


def _resolve_fs_mode(path: str, filesystem: str) -> str:
    """Pick the per-task open strategy: 'posix' | 'fsspec' | 'arrow' |
    'wholetext' (= stream unavailable for this scheme, use the file-bounded
    Spark text reader). Explicit `filesystem` wins; 'auto' dispatches on
    the URI scheme and library availability."""
    if filesystem != "auto":
        return filesystem
    if _uri_scheme(path) in _LOCAL_SCHEMES:
        return "posix"
    try:
        # probe, don't just import: fsspec being installed says nothing
        # about THIS scheme — get_filesystem_class raises ValueError for
        # unregistered protocols and ImportError when the protocol's
        # backend (s3fs/gcsfs/...) is absent, and either would otherwise
        # surface later inside _list_uri_files/fsspec.open instead of
        # falling through to the arrow/wholetext paths this module
        # documents as the fallback
        import fsspec

        fsspec.get_filesystem_class(_uri_scheme(path))
        return "fsspec"
    except (ImportError, ValueError):
        pass
    try:
        _arrow_fs(path.split("*")[0])
        return "arrow"
    except Exception:
        return "wholetext"


def _list_uri_files(path: str, mode: str) -> list[str]:
    """Driver-side listing of a non-local URI (file, dir, or basename
    glob) WITHOUT reading content; returns full URIs (scheme kept, so
    each task re-resolves its own filesystem handle). Basename globs
    only under 'arrow' (pyarrow.fs has no glob; wildcards elsewhere in
    the path need fsspec). Under 'arrow' the files are those of
    `_local_file_ranks`: a directory or a matched directory gives its
    direct non-hidden files, and a missing path or a glob that matches
    nothing raises FileNotFoundError."""
    if mode == "fsspec":
        import fsspec

        fs, _ = fsspec.core.url_to_fs(path)
        proto = fs.protocol if isinstance(fs.protocol, str) else fs.protocol[0]
        names = fs.glob(path) if any(w in path for w in _WILDCARDS) else None
        if names is None:
            names = (
                fs.find(path)
                if fs.isdir(fs._strip_protocol(path))
                else [fs._strip_protocol(path)]
            )
        return [fs.unstrip_protocol(n) if hasattr(fs, "unstrip_protocol")
                else f"{proto}://{n}" for n in names]
    from pyarrow import fs as pafs

    scheme = _uri_scheme(path)
    head, _, tail = path.rpartition("/")
    if any(w in tail for w in _WILDCARDS):
        if any(w in head for w in _WILDCARDS):
            raise ValueError(
                f"only basename globs are supported on {scheme}:// without "
                f"fsspec (got {path!r}); pass whole_file=True to use Spark's "
                "own reader"
            )
        import fnmatch

        fs, inner = _arrow_fs(head)
        matches = [
            i for i in fs.get_file_info(pafs.FileSelector(inner, allow_not_found=True))
            if not _hidden(i.base_name) and fnmatch.fnmatch(i.base_name, tail)
        ]
    else:
        fs, inner = _arrow_fs(path)
        info = fs.get_file_info(inner)
        matches = [] if info.type == pafs.FileType.NotFound else [info]
    if not matches:
        raise FileNotFoundError(f"Path does not exist: {path}")
    files = []
    for m in matches:
        if m.type == pafs.FileType.Directory:
            files.extend(
                i.path for i in fs.get_file_info(pafs.FileSelector(m.path))
                if i.is_file and not _hidden(i.base_name)
            )
        elif not _hidden(m.base_name):
            files.append(m.path)
    return [f"{scheme}://{p}" for p in files]


def _iter_text_chunks(fname: str, mode: str):
    """Stream a file as text chunks of ~_READ_CHUNK chars, per mode.
    Non-POSIX modes read BYTES and feed an incremental UTF-8 decoder (a
    fixed-size byte chunk may split a multibyte character)."""
    if mode == "posix":
        local = _norm_path(fname) if _uri_scheme(fname) else fname
        with open(local, encoding="utf-8") as f:
            while True:
                c = f.read(_READ_CHUNK)
                if not c:
                    return
                yield c
    elif mode == "fsspec":
        import fsspec

        with fsspec.open(fname, "rt", encoding="utf-8") as f:
            while True:
                c = f.read(_READ_CHUNK)
                if not c:
                    return
                yield c
    elif mode == "arrow":
        import codecs

        fs, inner = _arrow_fs(fname)
        dec = codecs.getincrementaldecoder("utf-8")()
        with fs.open_input_stream(inner) as f:
            while True:
                b = f.read(_READ_CHUNK)
                if not b:
                    tail = dec.decode(b"", final=True)
                    if tail:
                        yield tail
                    return
                t = dec.decode(b)
                if t:
                    yield t
    else:
        raise ValueError(f"unknown filesystem mode {mode!r}")


def read_edn_entities(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    with_index: bool = True,
    whole_file: bool = False,
    filesystem: str = "auto",
) -> DataFrame:
    """Read a file (or glob) of top-level EDN maps into a DataFrame.

    Unknown keys are dropped; missing optional keys become null (the
    reference's schema-on-read semantics: absent keys, not null values).

    Default mode STREAMS each file executor-side: the task opens its
    file and feeds 1 MiB text chunks to the incremental form parser
    (edn.iter_forms_chunks), so per-task memory is bounded by the
    largest single FORM, not the largest file — a file bigger than
    executor heap ingests fine (pinned in test_query_edn). The open
    dispatches on the URI scheme (_resolve_fs_mode): POSIX for local
    paths, fsspec if installed, else pyarrow.fs — so s3://-style
    object-store corpora stream with the same form-bounded memory.
    Schemes none of those handle fall back to the wholetext source
    automatically (same results, file-bounded memory), which is also
    what `whole_file=True` forces. `filesystem` pins a specific mode
    ('posix' | 'fsspec' | 'arrow') — tests use 'arrow' over file://
    URIs to exercise the object-store path end-to-end."""
    names = [f.name for f in schema.fields]
    out_schema = T.StructType(
        list(schema.fields) + ([T.StructField("_row_idx", T.LongType(), False)] if with_index else [])
    )
    fs_mode = _resolve_fs_mode(path, filesystem)
    if fs_mode == "wholetext":
        whole_file = True
    if whole_file:
        ranks = _file_ranks(spark, path)
    elif fs_mode == "posix":
        rank_items = sorted(_local_file_ranks(path).items())
    else:
        uris = sorted(_list_uri_files(path, fs_mode))
        rank_items = [(u, i) for i, u in enumerate(uris)]

    def rows_to_frames(forms, base, with_idx):
        rows: list[dict] = []
        for idx, form in enumerate(forms):
            if not isinstance(form, dict):
                raise ValueError(f"expected EDN map, got {type(form)}")
            row = {n: None for n in names}
            for k, v in form.items():
                n = _strip_kw(k)
                if n in row:
                    row[n] = v
            if with_idx:
                row["_row_idx"] = base + idx
            rows.append(row)
            if len(rows) >= CHUNK:
                yield pd.DataFrame(rows, columns=list(row))
                rows = []
        if rows:
            yield pd.DataFrame(rows, columns=list(rows[0]))

    if not whole_file:
        from ..edn import iter_forms_chunks

        def parse_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for fname, rank in zip(pdf["path"], pdf["rank"]):
                    yield from rows_to_frames(
                        iter_forms_chunks(_iter_text_chunks(fname, fs_mode)),
                        int(rank) * _FILE_STRIDE,
                        with_index,
                    )

        # a literal relation of up to defaultParallelism rows already
        # scans one row per task; only a longer list needs the exchange
        files = local_df(spark, rank_items, "path string, rank long")
        if len(rank_items) > spark.sparkContext.defaultParallelism:
            files = files.repartition(len(rank_items), "path")
        return files.mapInPandas(parse_stream, schema=out_schema)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fname, text in zip(pdf["_file"], pdf["value"]):
                base = 0
                if with_index:
                    rank = ranks.get(_norm_path(fname))
                    if rank is None:
                        raise ValueError(
                            f"file {fname!r} not in driver listing {sorted(ranks)}"
                        )
                    base = rank * _FILE_STRIDE
                yield from rows_to_frames(iter_forms(text), base, with_index)

    raw = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("_file"), "value"
    )
    return raw.mapInPandas(parse, schema=out_schema)


def read_edn_forms_local(path: str) -> list:
    """Driver-side whole-file EDN read for small config/dim files —
    the analog of the reference's slurp+read-string (importer.clj:257-269).
    Only ever used for dimension/config data that is then broadcast."""
    with open(path, encoding="utf-8") as f:
        return list(iter_forms(f.read()))


def write_edn(df: DataFrame, path: str, order_col: str | None = None) -> int:
    """EDN file sink (K1, async_edn.clj:66-82): collect-and-print, for
    golden-format export only (intermediates standardize on Parquet).
    Returns number of forms written."""
    from ..edn_dump import dumps

    rows = df.collect()
    if order_col is not None:
        rows = sorted(rows, key=lambda r: r[order_col])
    n = 0
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            d = r.asDict(recursive=True)
            d.pop(order_col, None)
            f.write(dumps(d))
            f.write("\n")
            n += 1
    return n
