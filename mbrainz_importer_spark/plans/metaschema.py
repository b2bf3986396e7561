"""Materialization of the final entity-graph tables — the relational
projection declared by the reference's metaschema
(/root/reference/metaschema/mbrainz.edn:1-32: :tables names each entity
table by its membership attribute, :joins maps ref attributes to target
tables).

Built from the idempotent warehouse (pipeline.run_import output):

  artist            flat entity table
  label             flat entity table
  abstract_release  + artists array (from areleases-artists links, J2 set
                    semantics via attach_many)
  release           + artists array, + media array<struct<..., tracks>>
                    (component nesting, schema.edn:185-190,227-231)
  release_artists / arelease_artists   first-class link tables
  country / language / script / enums  dimension tables

Scale notes: entity tables are written partitioned-by-nothing but sorted
within files by gid so parquet min/max row-group stats prune point lookups;
at warehouse scale you would bucket by gid (the upsert key every import
pass reuses — co-located merges, no re-shuffle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.upsert import attach_many, compact_by_key
from ..pipeline import read_marker

# ref-attr -> (link table, parent key, value col, target table)
# mirror of metaschema/mbrainz.edn :joins
JOINS = {
    ("release", "artists"): ("release_artists", "release_gid", "artist_gid", "artist"),
    ("abstract_release", "artists"): ("arelease_artists", "abstractRelease_gid", "artist_gid", "artist"),
    ("release", "abstractRelease"): (None, "abstractRelease_gid", None, "abstract_release"),
    ("release", "labels"): (None, "labels_gid", None, "label"),
    ("artist", "country"): (None, "country", None, "country"),
    ("release", "country"): (None, "country", None, "country"),
    ("release", "language"): (None, "language", None, "language"),
    ("release", "script"): (None, "script", None, "script"),
    ("label", "country"): (None, "country", None, "country"),
}


def _loaded(spark: SparkSession, warehouse: str, name: str) -> DataFrame | None:
    """The loaded sink of entity type `name`, read with the schema its
    completion marker records (no schema-inference job); None when the
    type was never loaded."""
    path = f"{warehouse}/loaded/{name}"
    if not os.path.exists(path):
        return None
    schema = (read_marker(path) or {}).get("schema")
    if schema is None:
        raise ValueError(
            f"{name}: {path} holds an unfinished load (no completion marker "
            "with a schema); re-run run_import to complete it"
        )
    df = spark.read.schema(T.StructType.fromJson(schema)).parquet(path).drop("batch_id")
    if "gid" in df.columns and "_rn" in df.columns:
        # unique-identity merge: duplicate gids in the entity stream collapse,
        # later non-null assertions winning (Datomic upsert, J2)
        return compact_by_key(df, "gid", "_rn")
    return df.drop("_rn") if "_rn" in df.columns else df


def build_entity_tables(
    spark: SparkSession, warehouse: str, importer, out_dir: str
) -> dict[str, DataFrame]:
    """Assemble and persist the metaschema tables from loaded batches.
    Returns the table dict (also written to {out_dir}/{table}), read back
    with each written frame's schema, so no table pays a schema-inference
    job; a file source reads every column nullable, which is what the
    parquet writer stored."""
    tables: dict[str, DataFrame] = {}

    artists = _loaded(spark, warehouse, "artists")
    labels = _loaded(spark, warehouse, "labels")
    areleases = _loaded(spark, warehouse, "areleases")
    releases = _loaded(spark, warehouse, "releases")
    ra = _loaded(spark, warehouse, "releases-artists")
    ara = _loaded(spark, warehouse, "areleases-artists")
    media = _loaded(spark, warehouse, "media")

    if artists is not None:
        tables["artist"] = artists
    if labels is not None:
        tables["label"] = labels
    if ra is not None:
        tables["release_artists"] = ra.select("release_gid", "artist_gid").distinct()
    if ara is not None:
        tables["arelease_artists"] = ara.select("abstractRelease_gid", "artist_gid").distinct()

    if areleases is not None:
        ar = areleases
        if ara is not None:
            ar = attach_many(ar, ara, "gid", "abstractRelease_gid", "artist_gid", "artist_gids")
        tables["abstract_release"] = ar

    if releases is not None:
        rel = releases
        if ra is not None:
            rel = attach_many(rel, ra, "gid", "release_gid", "artist_gid", "artist_gids")
        if media is not None:
            nested_media = media.groupBy(F.col("release_gid").alias("gid")).agg(
                F.array_sort(
                    F.collect_list(
                        F.struct("position", "trackCount", "format", "tracks")
                    )
                ).alias("media")
            )
            rel = rel.join(nested_media, "gid", "left")
        tables["release"] = rel

    # dimension tables from the importer's broadcast dims
    supers = importer.supers
    for table, name in (("country", "countries"), ("language", "langs"), ("script", "scripts")):
        tables[table] = supers.where(F.col("table") == name).select("code", "name", "ident")
    tables["enum"] = importer.enums

    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}")
    return {
        name: spark.read.schema(df.schema).parquet(f"{out_dir}/{name}")
        for name, df in tables.items()
    }


def register_metaschema(spark: SparkSession, out_dir: str) -> list[str]:
    """Register every materialized table as a temp view for spark.sql."""
    names = sorted(os.listdir(out_dir))
    for name in names:
        spark.read.parquet(f"{out_dir}/{name}").createOrReplaceTempView(name)
    return names


def expand_ref(
    spark: SparkSession, out_dir: str, table: str, ref: str
) -> DataFrame:
    """Join helper realizing a metaschema :joins edge: returns `table`
    joined to its ref target (array refs explode through the link table)."""
    key = (table, ref)
    if key not in JOINS:
        raise KeyError(f"no metaschema join for {table}.{ref}")
    link, parent_key, value_col, target = JOINS[key]
    t = spark.read.parquet(f"{out_dir}/{table}")
    tgt = spark.read.parquet(f"{out_dir}/{target}")
    # prefix target columns so release.name and artist.name can coexist
    tgt = tgt.select(*[F.col(c).alias(f"{target}__{c}") for c in tgt.columns])
    if link is not None:
        l = spark.read.parquet(f"{out_dir}/{link}")
        return (
            t.join(l, t["gid"] == l[parent_key])
            .join(tgt, l[value_col] == tgt[f"{target}__gid"], "left")
        )
    if target in ("country", "language", "script"):
        return t.join(F.broadcast(tgt), t[parent_key] == tgt[f"{target}__ident"], "left")
    return t.join(tgt, t[parent_key] == tgt[f"{target}__gid"], "left")
