"""Entity-stage import over a tiny inline corpus (no reference tree needed):
loaded counts, no-op re-runs, the restart protocol, the stage's Spark job
budget, the one miss guard over the persisted frame, the golden batch
shape, release of the frames a stage persists, and the driver-side POSIX
and object-store file listings."""

from __future__ import annotations

import json
import os
from functools import partial

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mbrainz_importer_spark.operators.enums import MissingDimensionValue, assert_no_misses
from mbrainz_importer_spark.operators.idempotency import (
    BATCH_ID_COL,
    IdempotentParquetSink,
    committed_files,
    load_envelopes,
)
from mbrainz_importer_spark.pipeline import Importer
from mbrainz_importer_spark.sources.edn_source import (
    _file_ranks,
    _list_uri_files,
    _local_file_ranks,
    _norm_path,
    read_edn_entities,
)

NAME = T.StructType([T.StructField("name", T.StringType())])

A1 = "00000000-0000-4000-8000-000000000001"
A2 = "00000000-0000-4000-8000-000000000002"
L1 = "00000000-0000-4000-8000-000000000011"
L2 = "00000000-0000-4000-8000-000000000012"
L3 = "00000000-0000-4000-8000-000000000013"
G1 = "00000000-0000-4000-8000-000000000021"
G2 = "00000000-0000-4000-8000-000000000022"
R1 = "00000000-0000-4000-8000-000000000031"
R2 = "00000000-0000-4000-8000-000000000032"

CORPUS = {
    "schema.edn": (
        "[{:db/ident :artist/gid :db/valueType :db.type/uuid"
        " :db/cardinality :db.cardinality/one}"
        " {:db/ident :label/gid :db/valueType :db.type/uuid"
        " :db/cardinality :db.cardinality/one}]\n"
    ),
    "enums.edn": (
        '{artist_type {"Person" :artist.type/person}'
        ' gender {"Female" :artist.gender/female}'
        ' release_group_type {"Album" :release.type/album}'
        ' release_packaging {"Jewel Case" :release.packaging/jewel-case}'
        ' medium_format {"CD" :medium.format/cd}'
        ' label_type {"Publisher" :label.type/publisher}}\n'
    ),
    "countries.edn": '{"GB" {:db/ident :country/GB :country/name "United Kingdom"}}\n',
    "langs.edn": '{"eng" {:db/ident :language/eng :language/name "English"}}\n',
    "scripts.edn": '{"Latn" {:db/ident :script/Latn :script/name "Latin"}}\n',
    "artists.edn": (
        f'{{:gid "{A1}" :name "Ann" :sortname "Ann" :type "Person"'
        f' :gender "Female" :country "GB" :begin_date_year 1970}}\n'
        f'{{:gid "{A2}" :name "Bo" :sortname "Bo"}}\n'
    ),
    "labels.edn": (
        f'{{:gid "{L1}" :name "One" :type "Publisher" :country "GB"}}\n'
        f'{{:gid "{L2}" :name "Two" :sort_name "two"}}\n'
        f'{{:gid "{L3}" :name "Three" :begin_date_year 1999}}\n'
    ),
    "areleases.edn": (
        f'{{:gid "{G1}" :name "First" :type "Album" :artist_credit "Ann"}}\n'
        f'{{:gid "{G2}" :name "Second"}}\n'
    ),
    "releases.edn": (
        f'{{:gid "{R1}" :name "First" :release_group "{G1}" :label "{L1}"'
        f' :packaging "Jewel Case" :country "GB" :language "eng"'
        f' :script "Latn" :date_year 2001 :acid 7}}\n'
        f'{{:gid "{R2}" :name "Second" :release_group "{G2}"}}\n'
    ),
    "releases-artists.edn": (
        f'{{:release "{R1}" :artist "{A1}"}}\n'
        f'{{:release "{R2}" :artist "{A1}"}}\n'
        f'{{:release "{R2}" :artist "{A2}"}}\n'
    ),
    "areleases-artists.edn": (
        f'{{:release_group "{G1}" :artist "{A1}"}}\n'
        f'{{:release_group "{G2}" :artist "{A2}"}}\n'
    ),
    # one row per track, clustered by medium id; track 1 of medium 1 has
    # two artists, so media loads 3 media from 5 rows
    "media.edn": (
        f'{{:id 1 :release "{R1}" :position 1 :track_count 2 :format "CD"'
        f' :name "T1" :tracknum 1 :artist "{A1}" :length 1000}}\n'
        f'{{:id 1 :release "{R1}" :position 1 :track_count 2 :format "CD"'
        f' :name "T1" :tracknum 1 :artist "{A2}" :length 1000}}\n'
        f'{{:id 1 :release "{R1}" :position 1 :track_count 2 :format "CD"'
        f' :name "T2" :tracknum 2 :artist "{A1}"}}\n'
        f'{{:id 2 :release "{R1}" :position 2 :track_count 1'
        f' :name "T3" :tracknum 1 :artist "{A1}"}}\n'
        f'{{:id 3 :release "{R2}" :position 1 :track_count 1'
        f' :name "T4" :tracknum 1 :artist "{A2}"}}\n'
    ),
}

BATCH = 2  # small enough that most types span several batches
EXPECTED = {
    "artists": {"txes": 1, "datoms": 2},
    "areleases": {"txes": 1, "datoms": 2},
    "areleases-artists": {"txes": 1, "datoms": 2},
    "labels": {"txes": 2, "datoms": 3},
    "releases": {"txes": 1, "datoms": 2},
    "releases-artists": {"txes": 2, "datoms": 3},
    "media": {"txes": 2, "datoms": 3},
}


def _write_corpus(root, overrides=None) -> str:
    ent = root / "entities"
    ent.mkdir(parents=True)
    for name, text in {**CORPUS, **(overrides or {})}.items():
        (ent / name).write_text(text, encoding="utf-8")
    return str(root)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(scope="module")
def importer(spark, tmp_path_factory):
    imp = Importer(spark, _write_corpus(tmp_path_factory.mktemp("corpus")))
    imp.enums.count()  # materialize the dims' own caches up front, so the
    imp.supers.count()  # persistent-RDD counts below see only stage frames
    return imp


def test_run_import_cold_then_noop(importer, tmp_path):
    wh = str(tmp_path / "wh")
    first = importer.run_import(wh, batch_size=BATCH)
    assert first["schema"] == {"rows": 2}
    assert first["enums"] == {"rows": 6}
    assert first["super-enums"] == {"rows": 3}
    assert {t: first[t] for t in EXPECTED} == EXPECTED
    again = importer.run_import(wh, batch_size=BATCH)
    assert {t: again[t] for t in EXPECTED} == {
        t: {"txes": 0, "datoms": 0} for t in EXPECTED
    }


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _marker(wh, type_name):
    with open(f"{wh}/loaded/{type_name}/_IMPORT_COMPLETE.json", encoding="utf-8") as fh:
        return json.load(fh)


def test_cold_load_job_budget(importer, spark, tmp_path):
    """The enum guard is one action over the persisted transformed frame,
    the numbering's boundaries are one observed quantile pass, the load
    stats are observed on the write, and a cold sink has no done-set to
    read or broadcast: 10 jobs for labels, 5 for a link stage."""
    for type_name, budget in (("labels", 10), ("areleases-artists", 5)):
        out, jobs = _jobs(
            spark, f"test-import-stage-cold-{type_name}",
            partial(importer.load_type, type_name, str(tmp_path / "wh"), BATCH),
        )
        assert out == EXPECTED[type_name]
        assert 0 < jobs <= budget, type_name


def test_marker_valid_reload_runs_no_job(importer, spark, tmp_path):
    wh = str(tmp_path / "wh")
    importer.load_type("media", wh, BATCH)
    out, jobs = _jobs(spark, "test-import-stage-noop-media",
                      lambda: importer.load_type("media", wh, BATCH))
    assert out == {"txes": 0, "datoms": 0}
    assert jobs == 0


def test_partial_restart_loads_only_missing(importer, spark, tmp_path):
    """A crashed run left a prefix of the batches and no marker: the
    restart loads exactly the rest (filter-batches, J5)."""
    wh = str(tmp_path / "wh")
    sink = IdempotentParquetSink(f"{wh}/loaded/labels")
    env = importer.create_batches("labels", BATCH)
    first = load_envelopes(sink, env.where(F.col(BATCH_ID_COL) == "labels-1"), spark)
    assert first == {"txes": 1, "datoms": 2}
    assert importer.load_type("labels", wh, BATCH) == {"txes": 1, "datoms": 1}
    loaded = spark.read.parquet(sink.path)
    assert loaded.count() == 3
    assert sorted(r[0] for r in loaded.select(BATCH_ID_COL).distinct().collect()) == [
        "labels-1", "labels-2"
    ]


def test_lost_part_file_reloads_its_batches(importer, spark, tmp_path):
    """A committed file that disappears after a complete load no longer
    matches the marker: the next load re-writes exactly its batches and
    lists the new files in the marker."""
    wh = str(tmp_path / "wh")
    sink = IdempotentParquetSink(f"{wh}/loaded/labels")
    env = importer.create_batches("labels", BATCH)
    load_envelopes(sink, env.where(F.col(BATCH_ID_COL) == "labels-1"), spark)
    [lost] = committed_files(spark, sink.path)  # labels-1 alone
    importer.load_type("labels", wh, BATCH)
    assert lost in _marker(wh, "labels")["files"]
    os.remove(f"{sink.path}/{lost}")
    assert importer.load_type("labels", wh, BATCH) == {"txes": 1, "datoms": 2}
    files = committed_files(spark, sink.path)
    assert lost not in files and _marker(wh, "labels")["files"] == files
    assert spark.read.parquet(sink.path).count() == 3
    assert importer.load_type("labels", wh, BATCH) == {"txes": 0, "datoms": 0}


@pytest.mark.parametrize("marker", [None, {"n_batches": 2, "batch_size": BATCH}, "files"],
                         ids=["crash-before-marker", "count-only-marker",
                              "files-without-schema"])
def test_reload_without_file_list_takes_anti_join(importer, spark, tmp_path, marker):
    """A loaded sink whose marker is absent (a crash before the marker
    write), lists no files, or lists them but records no schema: the
    anti-join finds nothing new, and the marker is (re)written with the
    committed files and the written rows' schema."""
    wh = str(tmp_path / "wh")
    importer.load_type("labels", wh, BATCH)
    path = f"{wh}/loaded/labels/_IMPORT_COMPLETE.json"
    if marker == "files":
        marker = {"batch_size": BATCH, "files": _marker(wh, "labels")["files"]}
    os.remove(path)
    if marker is not None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(marker, fh)
    out, jobs = _jobs(spark, f"test-import-stage-{marker is None}",
                      lambda: importer.load_type("labels", wh, BATCH))
    assert out == {"txes": 0, "datoms": 0} and jobs > 0
    written = _marker(wh, "labels")
    schema = T.StructType.fromJson(written.pop("schema"))
    assert written == {
        "batch_size": BATCH, "files": committed_files(spark, f"{wh}/loaded/labels")
    }
    loaded = spark.read.parquet(f"{wh}/loaded/labels")
    assert schema.fieldNames() == loaded.columns
    assert loaded.count() == 3


@pytest.mark.parametrize("rows", [
    [("x", True, True), ("y", False, False)],
    [("x", True, False), ("y", False, True)],
    [("x", True, False)] * 5 + [("y", False, True)],
], ids=["one-row", "separate-rows", "past-a-sample"])
def test_miss_guard_names_every_column(spark, rows):
    df = spark.createDataFrame(rows, "v string, __miss_type boolean, __miss_country boolean")
    df = df.coalesce(1)  # one partition: the country miss comes sixth
    with pytest.raises(MissingDimensionValue, match=r"\['country', 'type'\]"):
        assert_no_misses(df)
    clean = spark.createDataFrame([("x", False, None)], df.schema)
    assert assert_no_misses(clean).columns == ["v"]


def test_cold_sink_skips_done_set(spark, tmp_path, monkeypatch):
    """A sink with no committed file neither reads nor broadcasts a
    done-set; once it has one, the anti-join drops loaded batches."""
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    rows = spark.createDataFrame([("b-1", 1), ("b-1", 2), ("b-2", 3)], f"{BATCH_ID_COL} string, x long")
    reads = []
    real = IdempotentParquetSink.done_ids
    monkeypatch.setattr(IdempotentParquetSink, "done_ids",
                        lambda self, spark: reads.append(1) or real(self, spark))
    assert sink.filter_new(rows, spark) is rows
    assert sink.load(rows, spark) == {"txes": 2, "datoms": 3}
    assert reads == []
    assert sink.load(rows, spark) == {"txes": 0, "datoms": 0}
    assert reads == [1]


def test_stage_persists_source_and_transformed(importer, spark):
    before = _persisted(spark)
    with importer.stage():
        assert importer.create_batches("labels", BATCH).count() == 3
        assert _persisted(spark) == before + 2
    assert _persisted(spark) == before


def test_stage_guard_fills_transformed_cache(importer, spark):
    """The miss guard runs over the frame the stage persists, so right
    after `transformed` every partition of that frame is cached: batching
    and the write read it, and the dims are not broadcast again."""
    sc = spark.sparkContext
    with importer.stage():
        importer.transformed("labels")
        held = importer._held[-1]
        cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(held._jdf)
        builder = cached.get().cachedRepresentation().cacheBuilder()
        assert builder.isCachedColumnBuffersLoaded()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        info = sc._jsc.sc().statusStore().rdd(builder.cachedColumnBuffers().id())
        assert 0 < info.numPartitions() == info.numCachedPartitions()


def _keys(batches):
    return [[list(m) for m in b["data"]] for b in batches]


def test_batch_tx_data_golden_shape(importer):
    """Batch ids, member order and tx-map keys of the reference's batch-file
    shape (subsets/batches/*.edn), on the inline corpus."""
    artist = {":artist/gid": A1}, {":artist/gid": A2}
    labels = [
        {"batch_id": "labels-1", "data": [
            {":label/gid": L1, ":label/name": "One",
             ":label/type": ":label.type/publisher", ":label/country": ":country/GB"},
            {":label/gid": L2, ":label/name": "Two", ":label/sortName": "two"},
        ]},
        {"batch_id": "labels-2", "data": [
            {":label/gid": L3, ":label/name": "Three", ":label/startYear": 1999},
        ]},
    ]
    media = [
        {"batch_id": "media-1", "data": [
            {":release/_media": [":release/gid", R1], ":medium/position": 1,
             ":medium/trackCount": 2, ":medium/format": ":medium.format/cd",
             ":medium/tracks": [
                 {":db/id": "track-1-1", ":track/name": "T1", ":track/position": 1,
                  ":track/duration": 1000, ":track/artists": list(artist)},
                 {":db/id": "track-1-2", ":track/name": "T2", ":track/position": 2,
                  ":track/artists": [artist[0]]},
             ]},
            {":release/_media": [":release/gid", R1], ":medium/position": 2,
             ":medium/trackCount": 1,
             ":medium/tracks": [
                 {":db/id": "track-2-1", ":track/name": "T3", ":track/position": 1,
                  ":track/artists": [artist[0]]},
             ]},
        ]},
        {"batch_id": "media-2", "data": [
            {":release/_media": [":release/gid", R2], ":medium/position": 1,
             ":medium/trackCount": 1,
             ":medium/tracks": [
                 {":db/id": "track-3-1", ":track/name": "T4", ":track/position": 1,
                  ":track/artists": [artist[1]]},
             ]},
        ]},
    ]
    for type_name, expected in (("labels", labels), ("media", media)):
        got = importer.batch_tx_data(type_name, BATCH)
        assert got == expected, type_name
        assert _keys(got) == _keys(expected), type_name


def test_stage_frames_released_after_load(importer, spark, tmp_path):
    before = _persisted(spark)
    importer.load_type("releases", str(tmp_path / "wh"), BATCH)
    assert _persisted(spark) == before


def test_stage_frames_released_after_batch_tx_data(importer, spark):
    before = _persisted(spark)
    batches = importer.batch_tx_data("media", BATCH)
    assert [b["batch_id"] for b in batches] == ["media-1", "media-2"]
    assert _persisted(spark) == before


def test_stage_frames_released_on_enum_miss(spark, tmp_path):
    bad = f'{{:gid "{L1}" :name "One" :type "No Such Type"}}\n'
    imp = Importer(spark, _write_corpus(tmp_path / "corpus", {"labels.edn": bad}))
    imp.enums.count()
    imp.supers.count()
    before = _persisted(spark)
    with pytest.raises(MissingDimensionValue, match="type"):
        imp.load_type("labels", str(tmp_path / "wh"), BATCH)
    assert _persisted(spark) == before
    imp.enums.unpersist()
    imp.supers.unpersist()


def test_unknown_medium_format_raises_through_load_type(spark, tmp_path):
    """A medium's `format` miss survives the header aggregation as its
    indicator's max, and the stage's one guard names it."""
    media = CORPUS["media.edn"].replace(':format "CD"', ':format "Wax Cylinder"', 1)
    imp = Importer(spark, _write_corpus(tmp_path / "corpus", {"media.edn": media}))
    imp.enums.count()
    imp.supers.count()
    before = _persisted(spark)
    with pytest.raises(MissingDimensionValue, match=r"\['format'\]"):
        imp.load_type("media", str(tmp_path / "wh"), BATCH)
    assert _persisted(spark) == before
    imp.enums.unpersist()
    imp.supers.unpersist()


# -------------------------------------------------------------------------
# driver-side POSIX listing == the binaryFile listing
# -------------------------------------------------------------------------

@pytest.fixture
def edn_dir(tmp_path):
    d = tmp_path / "edn"
    d.mkdir()
    for name in ("b.edn", "a.edn", "c.txt", "_SUCCESS", ".a.edn.crc", ".hidden.edn"):
        (d / name).write_text("{:name \"x\"}\n")
    (d / "sub").mkdir()
    (d / "sub" / "d.edn").write_text("{:name \"y\"}\n")
    return d


@pytest.mark.parametrize("form", [
    "{d}/a.edn", "file:{d}/a.edn", "file://{d}/a.edn",
    "{d}/*.edn", "{d}/[ab].edn", "{d}/*", "{d}", "file:{d}",
])
def test_local_listing_matches_binaryfile(spark, edn_dir, form):
    path = form.format(d=edn_dir)
    assert _local_file_ranks(path) == _file_ranks(spark, path)


@pytest.mark.parametrize("form", [
    "file://{d}/a.edn", "file://{d}/*.edn", "file://{d}/[ab].edn",
    "file://{d}/*", "file://{d}",
])
def test_arrow_listing_matches_binaryfile(spark, edn_dir, form):
    """The object-store listing keeps the POSIX listing's rules: no
    hidden files, a directory's direct files, a matched directory's too."""
    path = form.format(d=edn_dir)
    listed = sorted(_norm_path(u) for u in _list_uri_files(path, "arrow"))
    assert listed == sorted(_file_ranks(spark, path))


@pytest.mark.parametrize("form", ["{d}/missing.edn", "{d}/*.zzz"])
def test_local_listing_missing_path_raises(spark, edn_dir, form):
    path = form.format(d=edn_dir)
    with pytest.raises(AnalysisException):
        _file_ranks(spark, path)
    with pytest.raises(FileNotFoundError):
        _local_file_ranks(path)
    with pytest.raises(FileNotFoundError):
        _list_uri_files(f"file://{path}", "arrow")


def test_stream_read_missing_path_raises(spark, edn_dir):
    with pytest.raises(FileNotFoundError):
        read_edn_entities(spark, f"{edn_dir}/*.zzz", NAME)


def test_stream_read_plans_one_file_per_task(spark, edn_dir):
    df = read_edn_entities(spark, f"{edn_dir}/*.edn", NAME)
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.rdd.getNumPartitions() == 2
    assert sorted(r["name"] for r in df.collect()) == ["x", "x"]
