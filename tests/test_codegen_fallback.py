"""Every generated method of the pipeline compiles: with codegen fallback
off, a method past the JVM's 64 KB limit raises instead of silently
running interpreted (and being re-planned by every pass that reads it)."""

import pytest

from identity_matching_spark.config import MatchConfig
from identity_matching_spark.corpus import generate_files
from identity_matching_spark.operators.compare import enrich_phonetic
from identity_matching_spark.operators.normalize import normalize_files, with_dense_ids
from identity_matching_spark.operators.validate import validation_gate
from identity_matching_spark.plans.pipeline import run_checkpointed
from identity_matching_spark.queries import files_from_documents, load_table


@pytest.fixture
def no_fallback(spark):
    key = "spark.sql.codegen.fallback"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield spark
    finally:
        spark.conf.set(key, prev)


def test_pipeline_compiles_without_codegen_fallback(no_fallback, tmp_path):
    spark = no_fallback
    cfg = MatchConfig()
    files = generate_files(spark, 30).drop("entity_id")
    out = run_checkpointed(spark, files, cfg, str(tmp_path / "ckpt"), resume=False)
    assert out["clusters"].count() == out["records"].count() > 0
    records = enrich_phonetic(with_dense_ids(validation_gate(normalize_files(files), cfg)))
    assert records.count() == out["records"].count()


@pytest.mark.parametrize("level", ["BASE", "L0", "L1"])
def test_gate_over_derived_columns_compiles(no_fallback, sf_dir, level):
    # the driver's files are projections of the documents table, so the
    # pushed-down gate inlines those expressions as well
    files = files_from_documents(load_table(no_fallback, sf_dir, "documents"))
    gated = validation_gate(normalize_files(files), MatchConfig(validation_level=level))
    assert gated.count() > 0
