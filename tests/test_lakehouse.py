"""End-to-end lakehouse workflows: ingest → merge → query → delete →
diff → export (behavior modeled on the reference's repository and e2e
suites, tests/test_repository_entities.py / test_e2e_workflows.py)."""

import os
from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F

from ftm_lakehouse_spark.lakehouse import Lakehouse
from ftm_lakehouse_spark.operators.explode import ENTITY_SCHEMA
from ftm_lakehouse_spark.plans.query import Query

JANE = {
    "id": "jane",
    "schema": "Person",
    "properties": {"name": ["Jane Doe"], "nationality": ["us"]},
}
ACME = {
    "id": "acme",
    "schema": "Company",
    "properties": {"name": ["ACME Inc"], "jurisdiction": ["de"]},
}
PAY = {
    "id": "pay1",
    "schema": "Payment",
    "properties": {"payer": ["acme"], "beneficiary": ["jane"], "amountEur": ["100"]},
}


def entities_df(spark, *ents):
    return spark.createDataFrame(
        [
            {
                "id": e["id"],
                "schema": e["schema"],
                "properties": e["properties"],
                "caption": None,
                "referents": [],
                "datasets": [],
                "first_seen": None,
                "last_seen": None,
                "last_change": None,
                "origin": [],
            }
            for e in ents
        ],
        ENTITY_SCHEMA,
    )


def test_ingest_query_roundtrip(spark, lake_root):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("donations")
    ds.write_entities(entities_df(spark, JANE, ACME, PAY), origin="bulk")

    assert ds.count() == 3
    # schema filter folds into a bucket prune: Payment → interval
    payments = ds.entities(Query().where(schema="Payment")).collect()
    assert len(payments) == 1
    props = payments[0]["properties"]
    assert props["payer"] == ["acme"]

    # EAV property filter selects the whole entity
    janes = ds.entities(Query().where(name="Jane Doe")).collect()
    assert len(janes) == 1
    assert janes[0]["entity_id"] == "jane"
    assert janes[0]["caption"] == "Jane Doe"
    assert sorted(janes[0]["properties"]["nationality"]) == ["us"]

    # point lookup
    got = ds.get("jane")
    assert got is not None and got["schema"] == "Person"
    assert ds.get("nobody") is None


def test_multi_origin_assembles_one_entity(spark, lake_root):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("d2")
    ds.write_entities(entities_df(spark, JANE), origin="crawl")
    jane2 = {**JANE, "properties": {"name": ["Jane Doe"], "birthDate": ["1980-01-01"]}}
    ds.write_entities(entities_df(spark, jane2), origin="bulk")

    out = ds.entities(Query().where(entity_id="jane")).collect()
    assert len(out) == 1
    props = out[0]["properties"]
    assert props["birthDate"] == ["1980-01-01"]
    assert props["nationality"] == ["us"]
    assert sorted(out[0]["origins"]) == ["bulk", "crawl"]


def test_merge_collapses_reimports(spark, lake_root):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("d3")
    ds.write_entities(entities_df(spark, JANE), origin="bulk")
    ds.write_entities(entities_df(spark, JANE), origin="bulk")

    raw_before = ds.store.raw().count()
    assert ds.merge(force=True)
    raw_after = ds.store.raw().count()
    assert raw_after < raw_before
    # dedupe happened at the physical level; logical result unchanged
    assert ds.count() == 1
    # freshness tag: second merge skips
    assert not ds.merge()


def test_delete_and_diff(spark, lake_root):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("d4")
    t0 = datetime.now(timezone.utc) - timedelta(seconds=5)
    ds.write_entities(entities_df(spark, JANE, ACME), origin="bulk")

    ds.delete_entity("jane")
    # reference contract: pre-merge, live row and tombstone coexist and
    # the live view still shows the entity (dedup-only-after-merge,
    # reference tests/test_repository_entities_delete.py docstring)
    assert ds.count() == 2

    # but diff applies the merge stack on-the-fly: the tombstone
    # shadows the live rows WITHOUT a prior merge (I3)
    diff = {r["entity_id"]: r["op"] for r in ds.diff(t0).collect()}
    assert diff["acme"] == "ADD"
    assert diff["jane"] == "DEL"
    assert ds.store.tags.get("last_optimized") is None

    # after merge the tombstone wins and the live view hides the entity
    assert ds.merge(force=True, grace_days=30)
    assert ds.count() == 1


def test_stats_and_exports(spark, lake_root, tmp_path):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("d5")
    ds.write_entities(entities_df(spark, JANE, ACME, PAY))

    st = ds.stats()
    assert st["entity_count"] == 3
    assert st["things"]["schemata"]["Person"] == 1

    csv_dir = str(tmp_path / "csv")
    ds.export_statements_csv(csv_dir, compression="none")
    back = spark.read.option("header", True).csv(csv_dir)
    assert back.count() == ds.statements().count()
    assert back.columns[:3] == ["id", "entity_id", "canonical_id"]

    json_dir = str(tmp_path / "json")
    ds.export_entities_json(json_dir, compression="none")
    ents = spark.read.json(json_dir)
    assert ents.count() == 3
    assert set(ents.select("id").toPandas()["id"]) == {"jane", "acme", "pay1"}


def test_zst_export_is_real_zstd(spark, lake_root, tmp_path):
    """A .zst artifact must contain actual zstandard bytes (round-1
    silently shipped gzip behind the extension). Verified by magic
    number AND an independent decompress."""
    import glob
    import os

    import pyarrow as pa

    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("dz")
    ds.write_entities(entities_df(spark, JANE, ACME))

    csv_dir = str(tmp_path / "csvz")
    ds.export_statements_csv(csv_dir, compression="zst")
    parts = glob.glob(os.path.join(csv_dir, "part-*.zst"))
    assert parts, os.listdir(csv_dir)
    assert not glob.glob(os.path.join(csv_dir, "*.crc"))
    text = ""
    for p in sorted(parts):
        with open(p, "rb") as fh:
            assert fh.read(4) == b"\x28\xb5\x2f\xfd"  # zstd frame magic
        with pa.input_stream(p, compression="zstd") as fh:
            text += fh.read().decode("utf-8")
    assert "entity_id" in text and "jane" in text
    # Spark reads the artifact back natively (parquet-side zstd-jni)
    back = spark.read.option("header", True).csv(csv_dir)
    assert back.count() == ds.statements().count()

    json_dir = str(tmp_path / "jsonz")
    ds.export_entities_json(json_dir, compression="zst")
    jparts = glob.glob(os.path.join(json_dir, "part-*.zst"))
    assert jparts
    ents = spark.read.json(json_dir)
    assert set(ents.select("id").toPandas()["id"]) == {"jane", "acme"}


def test_idempotent_reimport_same_ids(spark, lake_root):
    """Content-addressed ids: re-importing identical entities produces
    identical statement ids (BASE_ID parity contract)."""
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("d6")
    ds.write_entities(entities_df(spark, JANE), origin="bulk")
    ids1 = {r["id"] for r in ds.store.raw().select("id").collect()}
    ds.write_entities(entities_df(spark, JANE), origin="bulk")
    ids2 = {r["id"] for r in ds.store.raw().select("id").collect()}
    assert ids1 == ids2
    ds.merge(force=True)
    assert ds.store.raw().count() == len(ids1)


def test_shards_immutable_and_assignment(spark, lake_root):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("d7", shards=4)
    ds.write_entities(entities_df(spark, JANE, ACME, PAY))
    shards = {
        r["shard"]
        for r in ds.store.raw().select("shard").distinct().collect()
    }
    assert shards <= {"0", "1", "2", "3"}
    try:
        lake.dataset("d7", shards=8)
        assert False, "shards must be immutable"
    except ValueError:
        pass


def test_entity_slice_and_order(spark, lake_root):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("d8")
    people = [
        {"id": f"p{i}", "schema": "Person", "properties": {"name": [f"Name{i:02d}"]}}
        for i in range(10)
    ]
    ds.write_entities(entities_df(spark, *people))
    q = Query().where(schema="Person").order_by("name")[2:5]
    out = ds.entities(q).collect()
    names = sorted(e["properties"]["name"][0] for e in out)
    assert names == ["Name02", "Name03", "Name04"]


def test_make_workflow_and_freshness(spark, lake_root, tmp_path):
    import json
    import os

    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("mk")
    ds.write_entities(entities_df(spark, JANE, ACME))
    out = str(tmp_path / "exports")

    res = ds.make(out, force=True)
    assert not res["skipped"]
    assert sorted(os.listdir(out)) == [
        "entities.ftm.json", "index.json", "statements.csv", "statistics.json",
    ]
    index = json.load(open(os.path.join(out, "index.json")))
    assert index["entity_count"] == 2
    assert index["schemata"] == {"Person": 1, "Company": 1}

    # nothing written since → make skips entirely
    assert ds.make(out)["skipped"]
    # a new write re-arms it
    ds.write_entities(entities_df(spark, PAY))
    assert not ds.make(out)["skipped"]


def test_export_diff_envelopes(spark, lake_root, tmp_path):
    import json
    from datetime import datetime, timedelta, timezone

    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("df1")
    t0 = datetime.now(timezone.utc) - timedelta(seconds=5)
    ds.write_entities(entities_df(spark, JANE))
    ds.delete_entity("jane")
    ds.write_entities(entities_df(spark, ACME))

    out = str(tmp_path / "diff")
    ds.export_diff(out, t0)
    lines = [
        json.loads(line)
        for f in sorted(os.listdir(out)) if f.startswith("part")
        for line in open(os.path.join(out, f))
    ]
    ops = {(l["op"], l["entity"]["entity_id"] if l.get("entity") else None) for l in lines}
    assert ("ADD", "acme") in ops
    assert ("DEL", None) in ops  # DEL envelope carries a null entity


def test_numeric_property_sort(spark, lake_root):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("ns1")
    pays = [
        {"id": f"pay{i}", "schema": "Payment", "properties": {"amountEur": [amt]}}
        for i, amt in enumerate(["100", "2", "30"])
    ]
    ds.write_entities(entities_df(spark, *pays))
    lex = [e["entity_id"] for e in
           ds.entities(Query().order_by("amountEur")[0:3]).collect()]
    num = [e["entity_id"] for e in
           ds.entities(Query().order_by("amountEur", numeric=True)[0:3]).collect()]
    # results carry no order (assembly destroys it); compare the slices
    # at size 1 instead: the FIRST entity differs between modes
    first_lex = ds.entities(Query().order_by("amountEur")[0:1]).collect()
    first_num = ds.entities(Query().order_by("amountEur", numeric=True)[0:1]).collect()
    assert first_lex[0]["properties"]["amountEur"] == ["100"]  # "100" < "2" lexically
    assert first_num[0]["properties"]["amountEur"] == ["2"]    # 2 < 30 < 100
    assert sorted(lex) == sorted(num)  # same membership at full size


def test_per_bucket_writer_profiles(spark, lake_root):
    """Document-family buckets get the large writer profile (zstd),
    thing/interval buckets the small one (snappy) — the reference's
    writer_for_bucket split (storage/parquet.py:487-541)."""
    import glob

    import pyarrow.parquet as pq

    lh = Lakehouse(spark, str(lake_root))
    ds = lh.dataset("profiles")
    art = {
        "id": "art1",
        "schema": "Article",
        "properties": {"title": ["T"], "bodyText": ["lorem ipsum " * 200]},
    }
    ds.write_entities(entities_df(spark, JANE, art))

    root = os.path.join(str(lake_root), "profiles", "statements")
    codecs = {}
    for path in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        bucket = [s.split("=", 1)[1] for s in path.split(os.sep) if s.startswith("bucket=")][0]
        meta = pq.ParquetFile(path).metadata
        codecs.setdefault(bucket, set()).add(
            meta.row_group(0).column(0).compression
        )
    assert codecs["document"] == {"ZSTD"}
    assert codecs["thing"] == {"SNAPPY"}


def test_configure_updates_mutable_fields(spark, lake_root):
    """dataset(name, **kw) on an EXISTING dataset persists mutable
    config changes (title/compression/public_url_prefix) — the CLI
    `configure` contract; shards stays immutable."""
    import pytest as _pytest

    lake = Lakehouse(spark, lake_root)
    lake.dataset("cfgup", title="Old")
    ds = lake.dataset("cfgup", title="New", public_url_prefix="https://pub/{dataset}")
    assert ds.config.title == "New"
    # persisted, not just in-memory
    again = lake.dataset("cfgup")
    assert again.config.title == "New"
    assert again.config.public_url_prefix == "https://pub/{dataset}"
    with _pytest.raises(ValueError):
        lake.dataset("cfgup", shards=9)


def test_make_removes_stale_documents_csv(spark, lake_root, tmp_path):
    """After the last document entity is deleted and merged away, a
    re-make must NOT re-advertise the previous documents.csv."""
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("staledocs")
    art = {
        "id": "art1",
        "schema": "Article",
        "properties": {
            "title": ["T"],
            "bodyText": ["text here"],
            "contentHash": ["ab" * 20],
            "fileName": ["t.txt"],
        },
    }
    ds.write_entities(entities_df(spark, JANE, art))
    out = str(tmp_path / "exports")
    res = ds.make(out_root=out, force=True)
    assert any(r["name"] == "documents.csv" for r in res["resources"])

    ds.delete_entity("art1")
    res = ds.make(out_root=out, force=True)
    assert not any(r["name"] == "documents.csv" for r in res["resources"])
    assert not os.path.exists(os.path.join(out, "documents.csv"))

    # catalog accessors (reference catalog.py surface)
    assert lake.dataset_exists("staledocs") and not lake.dataset_exists("nope")


def test_set_model_class_extends_dataset_config(spark, lake_root):
    """Reference set_model_class (model/dataset.py:44-72): a registered
    DatasetConfig subclass is constructed by EVERY config read — new
    dataset creation, sidecar load, configure updates — and its custom
    fields round-trip through the sidecar."""
    from dataclasses import dataclass

    import pytest

    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.model.dataset import (
        DatasetConfig,
        get_model_class,
        set_model_class,
    )

    @dataclass
    class MyConfig(DatasetConfig):
        my_field: str | None = None

    assert get_model_class() is DatasetConfig
    set_model_class(MyConfig)
    try:
        lake = Lakehouse(spark, lake_root)
        ds = lake.dataset("cfgext", my_field="hello")
        assert isinstance(ds.config, MyConfig)
        assert ds.config.my_field == "hello"

        # sidecar round-trip constructs the registered class
        again = Lakehouse(spark, lake_root).dataset("cfgext")
        assert isinstance(again.config, MyConfig)
        assert again.config.my_field == "hello"

        # configure updates preserve the subclass and its fields
        upd = Lakehouse(spark, lake_root).dataset("cfgext", title="T")
        assert isinstance(upd.config, MyConfig)
        assert upd.config.my_field == "hello" and upd.config.title == "T"

        # a mutable custom field can itself be updated
        upd2 = Lakehouse(spark, lake_root).dataset("cfgext", my_field="bye")
        assert upd2.config.my_field == "bye"

        with pytest.raises(TypeError):
            set_model_class(dict)
    finally:
        set_model_class(DatasetConfig)


def test_stats_counts_a_two_schema_entity_once(spark, lake_root):
    """``stats()`` is one rollup pass: ``entity_count`` counts an
    entity with statements of two schemata once, while the per-schema
    facets (and their ``things.total``) count it under each schema."""
    # imported here: worker subprocesses import this module top-level
    # (tests/test_multiprocess_store.py), where a relative import fails
    from .helpers import make_df, stmt

    ds = Lakehouse(spark, lake_root).dataset("st1")
    ds.store.append(make_df(spark, [
        stmt(id="a1", entity_id="a", schema="Person", value="A"),
        stmt(id="a2", entity_id="a", schema="LegalEntity", prop="country", value="de"),
        stmt(id="b1", entity_id="b", schema="Person", value="B"),
        stmt(id="c1", entity_id="c", schema="Company", value="C", deleted_at="2024-02-01T00:00:00"),
    ]))
    assert ds.stats() == {
        "name": "st1",
        "entity_count": 2,
        "things": {"schemata": {"Person": 2, "LegalEntity": 1}, "total": 3},
    }
    empty = Lakehouse(spark, lake_root).dataset("st2").stats()
    assert empty["entity_count"] == 0
    assert empty["things"] == {"schemata": {}, "total": 0}
