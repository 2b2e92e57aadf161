"""tables.TABLE_SCHEMAS against the parquet footers: read_table skips
inference, so a declared column the files lack (or store as another
type) would read as nulls or fail late instead of failing here."""

import pytest

from docling_fast_server_spark.tables import TABLE_SCHEMAS


@pytest.mark.parametrize("name", sorted(TABLE_SCHEMAS))
def test_declared_schema_matches_parquet_footer(spark, sf_dir, name):
    from pyspark.sql.types import StructType

    declared = StructType.fromDDL(TABLE_SCHEMAS[name])
    stored = {f.name: f.dataType for f in spark.read.parquet(f"{sf_dir}/{name}.parquet").schema}
    for field in declared:
        assert field.name in stored, f"{name}.{field.name} missing from the files"
        assert stored[field.name] == field.dataType, f"{name}.{field.name}"
