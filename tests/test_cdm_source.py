"""Synapse Link CDM source tests (S6/S7): folder gating, per-batch schema,
multiline CSV, typed conversion, merge key, watermark-driven incremental."""

import json
import time

import pytest

from arcane_framework_scala_spark.sinks.merge_sink import (
    MergeSink,
    SnapshotParquetTarget,
)
from arcane_framework_scala_spark.queries.merge import SYNAPSE_LINK
from arcane_framework_scala_spark.sources.cdm import SynapseCdmSource, parse_cdm_model

MODEL = {
    "name": "cdm",
    "entities": [
        {
            "name": "account",
            "attributes": [
                {"name": "Id", "dataType": "guid"},
                {"name": "name", "dataType": "string"},
                {"name": "balance", "dataType": "decimal"},
                {"name": "versionnumber", "dataType": "int64"},
                {"name": "IsDelete", "dataType": "boolean"},
                {"name": "SinkModifiedOn", "dataType": "dateTime"},
            ],
        }
    ],
}


def _write_batch(root, folder, rows, in_progress=None):
    bdir = root / folder / "account"
    bdir.mkdir(parents=True, exist_ok=True)
    (root / folder / "model.json").write_text(json.dumps(MODEL))
    # two CSVs: deletes live in 1.csv (applied last per O1 ordering)
    (bdir / "2.csv").write_text(
        "\n".join(r for r in rows if not r.endswith(",True,9/1/2025 1:02:03 PM"))
    )
    (bdir / "1.csv").write_text(
        "\n".join(r for r in rows if r.endswith(",True,9/1/2025 1:02:03 PM"))
    )
    if in_progress:
        (root / "Changelog").mkdir(exist_ok=True)
        (root / "Changelog" / "changelog.info").write_text(f"blobs/{in_progress}")


@pytest.fixture()
def cdm_container(tmp_path):
    root = tmp_path / "cdm"
    _write_batch(
        root,
        "2025-09-01T00.00.00Z",
        [
            'a1,"first, quoted",10.5,1,False,9/1/2025 1:02:03 PM',
            'a2,"line1\nline2",20.0,2,False,9/1/2025 1:02:03 PM',
        ],
    )
    _write_batch(
        root,
        "2025-09-01T01.00.00Z",
        [
            "a1,renamed,11.0,3,False,9/1/2025 1:02:03 PM",
            "a2,gone,21.0,4,True,9/1/2025 1:02:03 PM",
        ],
    )
    # third folder is in-progress → must be excluded
    _write_batch(
        root,
        "2025-09-01T02.00.00Z",
        ["a3,should-not-appear,0.0,5,False,9/1/2025 1:02:03 PM"],
        in_progress="2025-09-01T02.00.00Z",
    )
    return str(root)


def test_parse_cdm_model_types():
    fields = parse_cdm_model(json.dumps(MODEL), "account")
    assert [n for n, _ in fields][:3] == ["Id", "name", "balance"]
    assert fields[2][1].typeName() == "double"
    assert fields[3][1].typeName() == "long"


def test_changelog_gates_in_progress_folder(spark, cdm_container):
    src = SynapseCdmSource(spark=spark, container_path=cdm_container, entity="account")
    assert src.completed_folders(None) == [
        "2025-09-01T00.00.00Z",
        "2025-09-01T01.00.00Z",
    ]
    assert src.current_version() == {"version": "2025-09-01T01.00.00Z"}


def test_batches_typed_with_merge_key(spark, cdm_container):
    src = SynapseCdmSource(spark=spark, container_path=cdm_container, entity="account")
    batches = list(src.changes(None))
    assert len(batches) == 2
    df = batches[0].df
    assert df.schema["balance"].dataType.typeName() == "double"
    assert df.schema["versionnumber"].dataType.typeName() == "long"
    assert df.schema["IsDelete"].dataType.typeName() == "boolean"
    assert df.schema["SinkModifiedOn"].dataType.typeName().startswith("timestamp")
    rows = {r["Id"]: r for r in df.collect()}
    assert rows["a1"]["ARCANE_MERGE_KEY"] == "a1"
    assert rows["a1"]["name"] == "first, quoted"
    assert rows["a2"]["name"] == "line1\nline2"  # multiline quoted field
    assert rows["a1"]["SinkModifiedOn"] is not None


def test_incremental_since_watermark(spark, cdm_container):
    src = SynapseCdmSource(spark=spark, container_path=cdm_container, entity="account")
    batches = list(src.changes({"version": "2025-09-01T00.00.00Z"}))
    assert [b.watermark["version"] for b in batches] == ["2025-09-01T01.00.00Z"]


def test_cdm_to_merge_pipeline(spark, cdm_container, tmp_path):
    """Vertical: CDM folders → M2 synapse merge → tombstone removes a2."""
    src = SynapseCdmSource(spark=spark, container_path=cdm_container, entity="account")
    target = SnapshotParquetTarget(spark, str(tmp_path / "target"))
    sink = MergeSink(target=target, dialect=SYNAPSE_LINK)
    for batch in src.changes(None):
        if batch.df is not None:
            sink.apply(batch.df)
    final = {r["Id"]: r for r in target.read().collect()}
    assert set(final) == {"a1"}  # a2 deleted by the versionnumber-4 tombstone
    assert final["a1"]["name"] == "renamed"
    assert final["a1"]["versionnumber"] == 3


def test_large_non_ascii_model_json_read_once(spark, cdm_container):
    """A ≥256 KiB model.json with non-ASCII attribute names reaches the
    batch schema byte-exact, in one read per batch, and fast: the file is
    fetched in one JVM call, not one call per byte."""
    folder = "2025-09-01T00.00.00Z"
    extra = [f"größe_{i}_名前_🙂" for i in range(8)]
    model = json.loads(json.dumps(MODEL))
    model["entities"][0]["attributes"] += [{"name": n, "dataType": "string"} for n in extra]
    # a second entity pads the manifest past 256 KiB, as wide CDM models do
    model["entities"].append({
        "name": "padding",
        "attributes": [{"name": f"spalte_ä_{i}_列", "dataType": "string"} for i in range(6000)],
    })
    text = json.dumps(model, ensure_ascii=False)
    path = f"{cdm_container}/{folder}/model.json"
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    assert len(text.encode("utf-8")) >= 256 * 1024

    class CountingSource(SynapseCdmSource):
        reads: list[str] = []

        def _read_small_file(self, rel):
            self.reads.append(rel)
            return super()._read_small_file(rel)

    src = CountingSource(spark=spark, container_path=cdm_container, entity="account")
    assert src._read_small_file(f"{folder}/model.json") == text
    assert src.in_progress_folder() == "2025-09-01T02.00.00Z"  # changelog.info
    src.reads.clear()
    t0 = time.monotonic()
    df = src.read_batch(folder)
    took = time.monotonic() - t0
    assert src.reads == [f"{folder}/model.json"]
    assert df.columns == [a["name"] for a in model["entities"][0]["attributes"]] + [
        "ARCANE_MERGE_KEY"
    ]
    assert took < 5.0, f"read_batch took {took:.1f} s"
    assert df.count() == 2  # the narrower CSV rows still parse
