"""Driver-comparator compatibility guards for the whole query registry.

The driver's correctness gate canonicalizes each result with pandas
``sort_values`` over EVERY column before hashing; a list/dict cell makes
that raise ``TypeError: unhashable type`` and the query is recorded as a
hard error (this killed customer_snapshot_diff / inverted_index_band /
doc_feature_vectors in CORRECTNESS_r08). Library operators may return
typed arrays — the SUITE layer must serialize them to scalars before the
result crosses the driver contract.
"""

from __future__ import annotations

from pyspark.sql import types as T

_COMPLEX = (T.ArrayType, T.MapType, T.StructType)


def test_no_query_emits_complex_columns(suite_builds):
    import __spark_entry__ as e

    assert list(suite_builds) == list(e.queries())
    offenders: dict[str, list[str]] = {}
    for name, (schema, _plan) in suite_builds.items():
        complex_cols = [
            f.name for f in schema.fields if isinstance(f.dataType, _COMPLEX)
        ]
        if complex_cols:
            offenders[name] = complex_cols
    assert not offenders, (
        "driver comparator cannot canonicalize list/dict cells; serialize "
        f"these columns to scalars in the suite layer: {offenders}"
    )
