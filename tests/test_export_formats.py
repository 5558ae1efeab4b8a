"""JSONL corpus export: round-trip and shard control."""

from __future__ import annotations

import glob
import os

from stock_bars_data_engineering_project_spark.sinks import export
from stock_bars_data_engineering_project_spark.sinks.export import export_jsonl
from stock_bars_data_engineering_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def test_jsonl_roundtrip_and_shard_count(spark, tmp_path, monkeypatch):
    docs = load_table(spark, SF, "documents").select("doc_id", "text", "source")
    out = str(tmp_path / "corpus")
    monkeypatch.setattr(export, "N_SHARDS", 4)
    export_jsonl(docs, out)
    shards = glob.glob(os.path.join(out, "part-*.json.gz"))
    assert len(shards) == 4
    back = spark.read.schema("doc_id long, text string, source string").json(out)
    got = {(r.doc_id, r.text, r.source) for r in back.collect()}
    want = {(r.doc_id, r.text, r.source) for r in docs.collect()}
    assert got == want
