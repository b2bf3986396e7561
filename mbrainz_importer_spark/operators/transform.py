"""Per-entity-type rename/project/resolve transforms (SURVEY.md §2.2 P1–P6).

Each transform is a declarative column selection (projection pruning is
Catalyst's ColumnPruning once we `select`) plus broadcast dim resolution.
The attribute maps mirror the reference's name-maps
(src/datomic/mbrainz/importer.clj:68-146) — including two deliberate
reproductions of reference typos, marked QUIRK below, because the golden
batch files (subsets/batches/*.edn) were produced with them:

  QUIRK 1 (importer.clj:77-78): artist-attrs maps `:begin_data_month` and
  `:begin_date_date` — keys that never occur in the data — so artist
  startMonth/startDay are silently dropped. Golden artists.edn confirms.

Output is columnar (one table per entity type, metaschema/mbrainz.edn
layout); `to_tx_data` projects a row into the reference's nested tx-map
shape for golden comparison and EDN export.

A transform does not check its dim lookups: every resolved column comes
with its `__miss_<col>` indicator (operators/enums.resolve_enum), and the
stage runs `assert_no_misses` once, on the frame it persists
(pipeline.Importer.transformed), so each dim is broadcast once per stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .enums import MISS_PREFIX, resolve_enum


def _keep_idx(df: DataFrame, cols: list) -> list:
    return cols + [F.col("_row_idx")] if "_row_idx" in df.columns else cols


def _enum(df: DataFrame, col: str, enums_dim: DataFrame, enum_type: str) -> DataFrame:
    dim = enums_dim.where(F.col("enum_type") == enum_type)
    return resolve_enum(df, col, dim, "value", "ident")


def _super(df: DataFrame, col: str, super_dim: DataFrame, table: str) -> DataFrame:
    dim = super_dim.where(F.col("table") == table)
    return resolve_enum(df, col, dim, "code", "ident")


def transform_artists(df: DataFrame, enums_dim: DataFrame, super_dim: DataFrame) -> DataFrame:
    """artist-attrs importer.clj:68-81 (QUIRK 1: no startMonth/startDay)."""
    out = df.select(*_keep_idx(df, [
        F.col("gid"),
        F.col("name"),
        F.col("sortname").alias("sortName"),
        F.col("type"),
        F.col("gender"),
        F.col("country"),
        F.col("begin_date_year").alias("startYear"),
        F.col("end_date_year").alias("endYear"),
        F.col("end_date_month").alias("endMonth"),
        F.col("end_date_day").alias("endDay"),
    ]))
    out = _enum(out, "type", enums_dim, "artist_type")
    out = _enum(out, "gender", enums_dim, "gender")
    return _super(out, "country", super_dim, "countries")


def transform_areleases(df: DataFrame, enums_dim: DataFrame, super_dim: DataFrame) -> DataFrame:
    """arelease-attrs importer.clj:83-88."""
    out = df.select(*_keep_idx(df, [
        F.col("gid"),
        F.col("name"),
        F.col("type"),
        F.col("artist_credit").alias("artistCredit"),
    ]))
    return _enum(out, "type", enums_dim, "release_group_type")


def transform_releases(df: DataFrame, enums_dim: DataFrame, super_dim: DataFrame) -> DataFrame:
    """release-attrs importer.clj:90-105. Lookup-refs become FK columns
    (P4): `label` -> labels_gid (ref via :label/gid), `release_group` ->
    abstractRelease_gid."""
    out = df.select(*_keep_idx(df, [
        F.col("gid"),
        F.col("name"),
        F.col("artist_credit").alias("artistCredit"),
        F.col("label").alias("labels_gid"),
        F.col("packaging"),
        F.col("status"),
        F.col("country"),
        F.col("language"),
        F.col("script"),
        F.col("barcode"),
        F.col("date_year").alias("year"),
        F.col("date_month").alias("month"),
        F.col("date_day").alias("day"),
        F.col("release_group").alias("abstractRelease_gid"),
    ]))
    out = _enum(out, "packaging", enums_dim, "release_packaging")
    out = _super(out, "country", super_dim, "countries")
    out = _super(out, "language", super_dim, "langs")
    return _super(out, "script", super_dim, "scripts")


def transform_labels(df: DataFrame, enums_dim: DataFrame, super_dim: DataFrame) -> DataFrame:
    """label-attrs importer.clj:107-119 (no typos here: all six date parts)."""
    out = df.select(*_keep_idx(df, [
        F.col("gid"),
        F.col("name"),
        F.col("sort_name").alias("sortName"),
        F.col("type"),
        F.col("country"),
        F.col("begin_date_year").alias("startYear"),
        F.col("begin_date_month").alias("startMonth"),
        F.col("begin_date_day").alias("startDay"),
        F.col("end_date_year").alias("endYear"),
        F.col("end_date_month").alias("endMonth"),
        F.col("end_date_day").alias("endDay"),
    ]))
    out = _enum(out, "type", enums_dim, "label_type")
    return _super(out, "country", super_dim, "countries")


def transform_releases_artists(df: DataFrame, *_dims) -> DataFrame:
    """release-artist-attrs importer.clj:138-141: `release` is the upsert
    identity (:db/id via :release/gid), `artist` a ref into the artists
    set (cardinality-many — set semantics on load, J2)."""
    return df.select(*_keep_idx(df, [
        F.col("release").alias("release_gid"),
        F.col("artist").alias("artist_gid"),
    ]))


def transform_areleases_artists(df: DataFrame, *_dims) -> DataFrame:
    """arelease-artist-attrs importer.clj:143-146."""
    return df.select(*_keep_idx(df, [
        F.col("release_group").alias("abstractRelease_gid"),
        F.col("artist").alias("artist_gid"),
    ]))


def transform_media(df: DataFrame, enums_dim: DataFrame, super_dim: DataFrame) -> DataFrame:
    """media pipeline importer.clj:236-247 (G1 run-grouping + G2 nested
    collect): one input row per track, clustered by medium id; output one
    row per medium with a sorted tracks array.

    Spark-first: the reference's `partition-by :id` exploits input
    clustering; medium ids are globally unique, so hash groupBy is
    semantically identical (SURVEY.md §2.3 G1) and scales. Two-level
    build: (id, tracknum) first to coalesce multi-artist tracks (the
    reference does this at transact time via the tempid
    "track-{id}-{tracknum}", importer.clj:161-164,244-245), then id.
    Track order inside a medium is by position — recoverable, unlike the
    reference's incidental reversed-conj list order.
    """
    mt = _enum(df, "format", enums_dim, "medium_format")
    tracks = (
        mt.groupBy("id", "tracknum")
        .agg(
            F.first("name").alias("t_name"),
            F.first("length").alias("t_duration"),
            F.array_sort(F.collect_set("artist")).alias("artist_gids"),
        )
        .withColumn(
            "tempid",
            F.concat_ws("-", F.lit("track"), F.col("id"), F.col("tracknum")),
        )
    )
    hdr_aggs = [
        F.first("release").alias("release_gid"),
        F.first("position").alias("position"),
        F.first("track_count").alias("trackCount"),
        F.first("format").alias("format"),
        F.max(f"{MISS_PREFIX}format").alias(f"{MISS_PREFIX}format"),
    ]
    if "_row_idx" in mt.columns:
        # order key for batching: a medium appears where its first track does
        hdr_aggs.append(F.min("_row_idx").alias("_row_idx"))
    media_hdr = mt.groupBy("id").agg(*hdr_aggs)
    nested = tracks.groupBy("id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("tracknum").alias("position"),
                    F.col("t_name").alias("name"),
                    F.col("t_duration").alias("duration"),
                    F.col("artist_gids"),
                    F.col("tempid"),
                )
            )
        ).alias("tracks")
    )
    return media_hdr.join(nested, "id")


TRANSFORMS = {
    "artists": transform_artists,
    "areleases": transform_areleases,
    "releases": transform_releases,
    "labels": transform_labels,
    "releases-artists": transform_releases_artists,
    "areleases-artists": transform_areleases_artists,
    "media": transform_media,
}


# -------------------------------------------------------------------------
# tx-data projection (golden comparison / EDN export)
# -------------------------------------------------------------------------

def _clean(d: dict) -> dict:
    # engine-internal columns (leading underscore) never appear in tx-data
    return {k: v for k, v in d.items() if v is not None and not k.startswith("_")}


def to_tx_data(type_name: str, row: dict) -> dict:
    """Project a columnar output row into the reference's tx-data map shape
    (importer.clj:166-188): nested lookup-ref maps for refs, ':' keyword
    strings for idents. Used by golden tests and the EDN sink."""
    r = _clean(row)
    if type_name == "artists":
        return {f":artist/{k}": v for k, v in r.items()}
    if type_name == "areleases":
        return {f":abstractRelease/{k}": v for k, v in r.items()}
    if type_name == "labels":
        return {f":label/{k}": v for k, v in r.items()}
    if type_name == "releases":
        out = {}
        for k, v in r.items():
            if k == "labels_gid":
                out[":release/labels"] = {":label/gid": v}
            elif k == "abstractRelease_gid":
                out[":release/abstractRelease"] = {":abstractRelease/gid": v}
            else:
                out[f":release/{k}"] = v
        return out
    if type_name == "releases-artists":
        return {
            ":release/gid": r["release_gid"],
            ":release/artists": {":artist/gid": r["artist_gid"]},
        }
    if type_name == "areleases-artists":
        return {
            ":abstractRelease/gid": r["abstractRelease_gid"],
            ":abstractRelease/artists": {":artist/gid": r["artist_gid"]},
        }
    if type_name == "media":
        out = {
            ":release/_media": [":release/gid", r["release_gid"]],
            ":medium/position": r["position"],
            ":medium/trackCount": r["trackCount"],
        }
        if "format" in r:
            out[":medium/format"] = r["format"]
        out[":medium/tracks"] = [
            _clean(
                {
                    ":db/id": t["tempid"],
                    ":track/name": t["name"],
                    ":track/position": t["position"],
                    ":track/duration": t.get("duration"),
                    ":track/artists": [{":artist/gid": g} for g in t["artist_gids"]],
                }
            )
            for t in r["tracks"]
        ]
        return out
    raise KeyError(type_name)
