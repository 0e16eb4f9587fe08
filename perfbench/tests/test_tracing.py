import pytest

from perfbench.tracing import Tracer, patched


class _Store:
    def materialize(self, df, table, stage, inputs):
        return ("stored", table)

    def read(self, table):
        return table


def test_patched_restores_the_original_even_on_error():
    original = _Store.__dict__["materialize"]
    with pytest.raises(RuntimeError):
        with patched(_Store, "materialize", lambda f: (lambda *a, **k: "wrapped")):
            assert _Store().materialize(None, "t", "s", []) == "wrapped"
            raise RuntimeError("boom")
    assert _Store.__dict__["materialize"] is original
    assert _Store().materialize(None, "t", "s", []) == ("stored", "t")


def test_patched_skips_a_missing_method():
    with patched(_Store, "gone", lambda f: (lambda *a: "wrapped")):
        assert "gone" not in _Store.__dict__


def test_materialize_wrapper_records_a_span_and_calls_through():
    tracer = Tracer(enabled=True)  # no SparkContext: labelling is a no-op
    with patched(_Store, "materialize", tracer._materialize_wrapper):
        assert _Store().materialize(None, "token_postings_s2_10", "token_postings",
                                    []) == ("stored", "token_postings_s2_10")
    [span] = tracer.spans_named("materialize")
    assert span.key == "token_postings_s2_10" and span.end >= span.start


def test_wrapping_restores_catalog_and_engine_methods():
    from oscar_spatial_index_compare_spark.engine import Engine
    from oscar_spatial_index_compare_spark.sources.catalog import Catalog

    before = (Catalog.__dict__["materialize"], Catalog.__dict__["read"],
              Engine.__dict__["corpus_tokens"])
    tracer = Tracer(enabled=True)
    with tracer.wrapping():
        assert Catalog.__dict__["materialize"] is not before[0]
        assert Catalog.materialize.__wrapped__ is before[0]
    assert (Catalog.__dict__["materialize"], Catalog.__dict__["read"],
            Engine.__dict__["corpus_tokens"]) == before


def test_wrapping_is_a_no_op_when_tracing_is_off():
    from oscar_spatial_index_compare_spark.sources.catalog import Catalog

    before = Catalog.__dict__["materialize"]
    with Tracer(enabled=False).wrapping():
        assert Catalog.__dict__["materialize"] is before
