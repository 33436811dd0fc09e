"""REST-endpoint parity functions + wiki markup stripping."""

from pyspark.sql import functions as F

from dbpedia_spotlight_spark.functions.text import strip_wiki_markup_col
from dbpedia_spotlight_spark.io.sources import parse_spot_xml
from dbpedia_spotlight_spark.pipeline.api import (
    annotate_endpoint,
    candidates,
    disambiguate,
    spot,
)


def test_spot_endpoint(world):
    s = spot(world.documents, world.model)
    assert s.count() > 0
    assert {"doc_id", "offset", "surface_form", "spot_prob"} <= set(s.columns)


def test_candidates_endpoint_ranked_lists(world):
    c = candidates(world.documents, world.model, k=3)
    per_spot = c.groupBy("doc_id", "offset").agg(F.max("rank").alias("m"))
    assert per_spot.filter(F.col("m") > 1).count() > 0  # real ranked lists
    assert per_spot.agg(F.max("m")).collect()[0][0] <= 3


def test_disambiguate_endpoint_with_xml_spots(spark, world):
    xml = (
        '<annotation text="Berlin is in Germany">'
        '<surfaceForm name="Berlin" offset="0"/></annotation>'
    )
    spots, docs_flat = parse_spot_xml(spark, xml)
    from dbpedia_spotlight_spark.operators.tokenizer import flat_to_interleaved

    from dbpedia_spotlight_spark.pipeline.annotate import ANNOTATION_COLS

    docs = flat_to_interleaved(docs_flat)
    for use_context in (False, True):
        out = disambiguate(spots, docs, world.model, use_context=use_context)
        rows = out.collect()
        assert len(rows) == 1 and rows[0]["uri"] == "Berlin"
        assert out.columns == ANNOTATION_COLS + ["rank"]


def test_annotate_endpoint_filters(world):
    out = annotate_endpoint(world.documents, world.model, confidence=0.1, support=10)
    assert out.count() > 0
    assert out.filter(F.col("support") <= 10).count() == 0


def test_strip_wiki_markup(spark):
    markup = (
        "'''Apple''' is a <ref>Some ref</ref>fruit.<!-- hidden -->\n"
        "== See also ==\n* [[Banana]]\n\n"
        "==History==\nGrown __TOC__ for <b>centuries</b>.\n:indented\n"
        "* bullet item\n\n\n\nEnd."
    )
    df = spark.createDataFrame([(markup,)], "t string")
    out = df.select(strip_wiki_markup_col(F.col("t")).alias("s")).collect()[0]["s"]
    assert "'''" not in out and "<ref>" not in out and "hidden" not in out
    assert "__TOC__" not in out and "<b>" not in out
    assert "See also" not in out and "Banana" not in out  # section dropped
    assert "History" in out and "centuries" in out        # content kept
    assert "\n\n\n" not in out
    assert "Apple" in out and "fruit." in out


def test_docgen_datasource_deterministic_and_partition_invariant(spark):
    """Python Data Source API generator: same options -> identical
    corpus regardless of partition count; tokens follow the md5 recipe."""
    import hashlib

    from dbpedia_spotlight_spark.io.datasource import register_sources

    register_sources(spark)

    def load(parts):
        return (
            spark.read.format("docgen")
            .option("n_docs", 50)
            .option("doc_len", 7)
            .option("vocab", 13)
            .option("partitions", parts)
            .load()
        )

    a = {r["doc_id"]: r["text"] for r in load(1).collect()}
    b = {r["doc_id"]: r["text"] for r in load(4).collect()}
    assert a == b and len(a) == 50
    h = hashlib.md5(b"3\x1f0").hexdigest()[:12]
    assert a[3].split(" ")[0] == f"w{int(h, 16) % 13}"


def test_spotlight_tsv_roundtrip_and_filter_pushdown(spark, tmp_path):
    """TSV writer -> reader round trip preserves rows; EqualTo on uri is
    absorbed by pushFilters (only unsupported filters come back) and the
    pushed-down scan returns exactly the matching rows."""
    from pyspark.sql import functions as F

    from dbpedia_spotlight_spark.io.datasource import (
        EqualTo,
        GreaterThan,
        TsvReader,
        register_sources,
    )

    register_sources(spark)
    df = spark.createDataFrame(
        [
            ("o1", "U1", "apple", "an apple text", 3),
            ("o2", "U2", "pear", "a pear text", 2),
            ("o3", "U1", "plum", "a plum text", 0),
        ],
        "occ_id string, uri string, surface_form string, text string, offset int",
    )
    out = str(tmp_path / "tsv_out")
    df.coalesce(2).write.format("spotlight_tsv").mode("overwrite").save(out)
    back = spark.read.format("spotlight_tsv").load(out)
    assert sorted(r["occ_id"] for r in back.collect()) == ["o1", "o2", "o3"]

    filtered = back.filter(F.col("uri") == "U1")
    assert sorted(r["occ_id"] for r in filtered.collect()) == ["o1", "o3"]

    rd = TsvReader({"path": out})
    leftover = list(
        rd.pushFilters([EqualTo(("uri",), "U1"), GreaterThan(("offset",), 1)])
    )
    assert rd.eq == {"uri": "U1"}
    assert len(leftover) == 1 and isinstance(leftover[0], GreaterThan)


def test_docgen_interleaved_feeds_the_spotter(spark):
    """The interleaved docgen output IS the north-rule input shape:
    span struct fields match model.schemas.SPAN_STRUCT, and the table
    (doc_id cast to string) runs straight through spot_documents with
    a dictionary of generated tokens — media spans skipped, text spans
    spotted."""
    from dbpedia_spotlight_spark.io.datasource import register_sources
    from dbpedia_spotlight_spark.model.schemas import SPAN_STRUCT
    from dbpedia_spotlight_spark.operators.spotter import spot_documents
    from pyspark.sql import functions as F

    register_sources(spark)
    docs = (
        spark.read.format("docgen")
        .option("n_docs", 20)
        .option("doc_len", 10)
        .option("vocab", 7)
        .option("partitions", 2)
        .option("interleaved", "true")
        .load()
    )
    elem = docs.schema["spans"].dataType.elementType
    assert [f.name for f in elem.fields] == [f.name for f in SPAN_STRUCT.fields]
    assert [f.dataType for f in elem.fields] == [
        f.dataType for f in SPAN_STRUCT.fields
    ]

    n_media = docs.select(
        F.explode("spans").alias("s")
    ).filter(F.col("s.kind") == "media").count()
    assert n_media == 4  # every 5th of 20 docs

    sf = spark.createDataFrame(
        [(f"w{i}", 10, 10) for i in range(7)],
        "surface_form string, annotated_count long, total_count long",
    )
    spots = spot_documents(
        docs.withColumn("doc_id", F.col("doc_id").cast("string")), sf
    )
    got = spots.groupBy("doc_id").count().collect()
    assert len(got) == 20  # every doc produced spots from its text spans


def test_spotlight_tsv_overwrite_clears_stale_parts(spark, tmp_path):
    """r4 advisory: mode(overwrite) must clear part files a previous
    wider write left behind (phantom rows), and job commit sweeps the
    .tmp leftovers of its own partitions only: a .tmp under another name
    may be a live task file of another writer and must survive."""
    import os

    from dbpedia_spotlight_spark.io.datasource import register_sources

    register_sources(spark)
    schema = (
        "occ_id string, uri string, surface_form string, "
        "text string, offset int"
    )
    wide = spark.createDataFrame(
        [(f"o{i}", "U1", "sf", "t", i) for i in range(8)], schema
    )
    out = str(tmp_path / "tsv_over")
    wide.repartition(4).write.format("spotlight_tsv").mode("overwrite").save(out)
    n_parts_before = len(
        [f for f in os.listdir(out) if f.startswith("part-")]
    )
    assert n_parts_before >= 2

    # a .tmp of a partition number this job does not have: not its own
    foreign = os.path.join(out, "part-09999.tsv.tmp")
    with open(foreign, "w") as fh:
        fh.write("junk\tx\tx\tx\t0\n")

    narrow = spark.createDataFrame([("n1", "U2", "sf", "t", 0)], schema)
    narrow.coalesce(1).write.format("spotlight_tsv").mode("overwrite").save(out)

    files = os.listdir(out)
    assert [f for f in files if f.endswith(".tmp")] == ["part-09999.tsv.tmp"], files
    back = spark.read.format("spotlight_tsv").load(out).collect()
    assert sorted(r["occ_id"] for r in back) == ["n1"], files

    # leftover tmp of this job's own partition (a retried task's) is swept
    from dbpedia_spotlight_spark.io.datasource import TsvWriter, _TsvCommit

    own = os.path.join(out, "part-00000.tsv.tmp")
    with open(own, "w") as fh:
        fh.write("junk\tx\tx\tx\t0\n")
    part = os.path.join(out, "part-00000.tsv")
    TsvWriter({"path": out}, overwrite=True).commit([_TsvCommit(part, 1)])
    assert not os.path.exists(own) and os.path.exists(foreign)
    assert os.path.exists(part)
