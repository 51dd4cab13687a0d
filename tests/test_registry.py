"""Registry invariants: every query has a DuckDB oracle except the two
whose correctness gate is golden byte-identity (extract_e2e, spans_flatten);
lazy oracles resolve to valid SQL strings."""

from ocr_gpu_services_spark.plans.queries import QUERIES, resolve_oracles

GOLDEN_GATED = {"extract_e2e", "spans_flatten"}


def test_every_query_is_oracled_or_golden_gated():
    oracles = resolve_oracles()
    missing = set(QUERIES) - set(oracles) - GOLDEN_GATED
    assert not missing, f"queries without any value-level gate: {missing}"
    assert GOLDEN_GATED <= set(QUERIES)
    assert not (GOLDEN_GATED & set(oracles))


def test_lazy_oracles_resolve_to_sql_strings():
    for name, sql in resolve_oracles().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_generator_oracles_build_lazily():
    """Importing the registry runs no fixture-generator oracle builder: the
    image/OCR/pdf-scan/layout truths stay callables until resolve_oracles
    (checked in a fresh interpreter; this module already resolved them)."""
    import os
    import subprocess
    import sys

    lazy = ["layout_classify", "qr_extract", "barcode_extract",
            "signature_spans", "ocr_line_spans", "ocr_word_spans",
            "pdf_scan_ocr"]
    code = ("from ocr_gpu_services_spark.plans.queries import ORACLE; "
            "print(' '.join(k for k in %r if not callable(ORACLE[k])))"
            % lazy)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root,
                         capture_output=True, text=True, check=True)
    assert out.stdout.split() == [], "built at import: " + out.stdout


def test_spark_entry_contract_shape():
    import __spark_entry__ as e
    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert set(qs) - set(os_) == GOLDEN_GATED


def test_failing_nonpath_builder_substitutes_red_sentinel():
    """A lazy oracle builder that fails must NOT silently soften the gate:
    unless explicitly marked path_dependent, the failure substitutes a
    sentinel oracle that cannot match any Spark result (VERDICT r2 #3)."""
    from ocr_gpu_services_spark.plans import queries as qmod

    def boom():
        raise RuntimeError("env hiccup")

    def boom_pd():
        raise RuntimeError("gate parquet missing")
    boom_pd.path_dependent = True

    saved = dict(qmod.ORACLE)
    try:
        qmod.ORACLE["__sentinel_test__"] = boom
        qmod.ORACLE["__pathdep_test__"] = boom_pd
        resolved = qmod.resolve_oracles()
        assert "ORACLE_BUILDER_FAILED:__sentinel_test__" \
            in resolved["__sentinel_test__"]
        assert "__pathdep_test__" not in resolved  # loud rows-only demotion
    finally:
        qmod.ORACLE.clear()
        qmod.ORACLE.update(saved)


def test_replica_type_class_catches_hugeint():
    """tools/check_queries.py must see the DuckDB-HUGEINT-vs-Spark-BIGINT
    class of bug (uncast integer sum(): pandas converts HUGEINT to float64,
    breaking the driver's typed hash — the round-2 para_dedup red row)."""
    import sys
    sys.path.insert(0, "tools")
    from check_queries import type_class

    assert type_class("HUGEINT") != type_class("bigint")
    assert type_class("BIGINT") == type_class("int")        # driver-tolerated
    assert type_class("TIMESTAMP") == type_class("timestamp_ntz")
    assert type_class("DECIMAL(3,2)") == type_class("double")
    assert type_class("VARCHAR") == type_class("string")
    assert type_class("HUGEINT") != type_class("double")
