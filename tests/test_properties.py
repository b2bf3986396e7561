"""Property-based tests (hypothesis) mirroring the reference's
spec-driven generative testing hook (deps.edn declares test.check;
entities.clj:16-17 gives the value ranges — month in [1,12], day in
[1,31], pos-int durations; optional keys absent, not null).

Strategy: generate artist entities honoring the spec, write them as an
EDN file, and check end-to-end invariants of ingestion + transform +
batching that must hold for EVERY valid input, not just the fixtures.
"""

from __future__ import annotations

import math
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mbrainz_importer_spark.edn import iter_forms, loads
from mbrainz_importer_spark.edn_dump import dumps

# -- generators honoring ::artist-ent ------------------------------------

_name = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")), min_size=1, max_size=30
)
_uuid = st.uuids().map(str)


@st.composite
def artist_entity(draw):
    ent = {
        ":gid": draw(_uuid),
        ":name": draw(_name),
        ":sortname": draw(_name),
    }
    # optional keys absent with realistic probability (FIXTURES.md §5)
    if draw(st.booleans()):
        ent[":type"] = draw(st.sampled_from(["Person", "Group", "Other"]))
    if draw(st.booleans()):
        ent[":gender"] = draw(st.sampled_from(["Male", "Female", "Other"]))
    if draw(st.booleans()):
        ent[":begin_date_year"] = draw(st.integers(1900, 2020))
        if draw(st.booleans()):
            ent[":begin_date_month"] = draw(st.integers(1, 12))
            ent[":begin_date_day"] = draw(st.integers(1, 31))
    return ent


# -- pure-python properties (no Spark; fast, many examples) ---------------

@given(st.lists(artist_entity(), min_size=0, max_size=50))
@settings(max_examples=50, deadline=None)
def test_edn_roundtrip_property(entities):
    """dumps -> iter_forms is the identity on entity maps."""
    text = "\n".join(dumps(e) for e in entities)
    back = list(iter_forms(text))
    assert back == entities


@given(artist_entity())
@settings(max_examples=100, deadline=None)
def test_edn_single_form_roundtrip(ent):
    assert loads(dumps(ent)) == ent


@given(st.integers(1, 500), st.integers(1, 200))
@settings(max_examples=100, deadline=None)
def test_batch_numbering_invariants(n_rows, batch_size):
    """G3 arithmetic: ceil(n/size) batches, all full except a ragged last."""
    n_batches = math.ceil(n_rows / batch_size)
    sizes = [
        min(batch_size, n_rows - i * batch_size) for i in range(n_batches)
    ]
    assert sum(sizes) == n_rows
    assert all(s == batch_size for s in sizes[:-1])
    assert 1 <= sizes[-1] <= batch_size


# -- spark end-to-end property (one bigger example set) -------------------

@pytest.mark.parametrize("seed", [0])
def test_pipeline_invariants_on_generated_entities(spark, tmp_path, seed, reference_subsets):
    """Ingest generated artists through the real pipeline path and check:
    row preservation, projection totality (no leaked raw columns), enum
    resolution correctness, batch-envelope coverage."""
    import random

    rng = random.Random(seed)
    ents = []
    for i in range(937):  # deliberately not a multiple of 100
        e = {":gid": f"00000000-0000-4000-8000-{i:012d}", ":name": f"n{i}", ":sortname": f"s{i}"}
        if rng.random() < 0.6:
            e[":type"] = rng.choice(["Person", "Group", "Other"])
        if rng.random() < 0.5:
            e[":gender"] = rng.choice(["Male", "Female", "Other"])
        if rng.random() < 0.4:
            e[":begin_date_year"] = rng.randint(1900, 2020)
        ents.append(e)

    basedir = tmp_path / "base"
    os.makedirs(basedir / "entities")
    with open(basedir / "entities" / "artists.edn", "w") as f:
        f.write("\n".join(dumps(e) for e in ents))
    for dim in ("enums.edn", "countries.edn", "langs.edn", "scripts.edn"):
        src = f"{reference_subsets}/entities/{dim}"
        with open(src) as s, open(basedir / "entities" / dim, "w") as d:
            d.write(s.read())

    from mbrainz_importer_spark.pipeline import Importer

    imp = Importer(spark, str(basedir))
    batches = imp.batch_tx_data("artists")

    assert len(batches) == math.ceil(937 / 100)
    flat = [e for b in batches for e in b["data"]]
    assert len(flat) == 937
    # projection totality: only namespaced artist attrs, no raw keys
    for e in flat:
        assert all(k.startswith(":artist/") for k in e), e
    # enum resolution: every present type value became an ident
    typed = [e[":artist/type"] for e in flat if ":artist/type" in e]
    assert typed and all(t.startswith(":artist.type/") for t in typed)
    # order preservation: gids in file order across batch boundaries
    gids = [e[":artist/gid"] for e in flat]
    assert gids == [e[":gid"] for e in ents]


# -- round-3 curation invariants -----------------------------------------

@given(
    st.lists(st.integers(min_value=1, max_value=200), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=128),
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_sequences_invariants(spark, token_counts, capacity):
    """For any doc lengths + capacity: offsets tile [0, total) exactly,
    pack spans are consistent, and every pack index up to the last is
    realizable."""
    from mbrainz_importer_spark.operators.curation import pack_sequences

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        pack_sequences(df, capacity=capacity).collect(), key=lambda r: r["doc_id"]
    )
    expect_offset = 0
    for r in out:
        assert r["start_offset"] == expect_offset
        assert r["first_pack"] == r["start_offset"] // capacity
        assert r["last_pack"] == (r["start_offset"] + r["n_tokens"] - 1) // capacity
        assert r["n_packs_spanned"] == r["last_pack"] - r["first_pack"] + 1
        expect_offset += r["n_tokens"]
    assert expect_offset == sum(token_counts)


@given(st.lists(st.text(alphabet="ab ", min_size=1, max_size=30), min_size=1, max_size=25))
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dedup_spans_conservation(spark, texts):
    """Span dedup never invents content: kept spans <= total spans per
    doc, and the global count of kept spans equals the number of DISTINCT
    spans in the corpus."""
    from mbrainz_importer_spark.operators import curation as C
    from mbrainz_importer_spark.operators.text import tokens as _tokens

    rows = [(i, t) for i, t in enumerate(texts) if t.split()]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = C.dedup_spans(df, span_tokens=2).collect()
    kept_total = sum(r["spans_kept"] for r in out)
    # distinct spans across the corpus, computed independently
    import itertools
    distinct = set()
    for _, t in rows:
        toks = t.lower().split()
        for i in range(0, len(toks), 2):
            distinct.add(" ".join(toks[i:i + 2]))
    assert kept_total == len(distinct)
    for r in out:
        assert 1 <= r["spans_kept"] <= r["spans_total"]
