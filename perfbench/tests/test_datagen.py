"""The benchmark's tables are a pure function of the scale."""

import datagen


def test_tables_deterministic_and_shaped():
    a, b = datagen.make_tables(0.001), datagen.make_tables(0.001)
    assert a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)
    li = a["lineitem"]
    assert li.column("l_linenumber").to_pylist()[0] == 1
    assert set(a["region"].column("r_name").to_pylist()) >= {"ASIA"}
    assert a["embeddings"].column("embedding").type.value_type.bit_width == 32


def test_timestamps_are_micros_not_adjusted_to_utc(tmp_path):
    import pyarrow.parquet as pq

    datagen.write_tables(str(tmp_path), 0.001)
    for table, col in (("events", "ts"), ("orders", "o_orderdate"),
                       ("lineitem", "l_shipdate")):
        schema = pq.ParquetFile(tmp_path / f"{table}.parquet").schema
        lt = schema.column(schema.names.index(col)).logical_type
        assert lt.type == "TIMESTAMP" and "microseconds" in str(lt)
        assert "isAdjustedToUTC=false" in str(lt)
