"""The broker-adapter seam: pure offset-spec mapping must carry the exact
seek semantics of the file source (mutual exclusion, exclusive ordinal,
UTC-pinned datetime), and the DataSource must fail loudly — with the
file-source pointer — when no broker client library exists."""

from __future__ import annotations

import pytest

from squonk2_fastapi_ws_event_stream_spark.sources.rabbitmq import (
    RabbitMQStreamDataSource,
    connection_params,
    offset_spec,
)


def test_default_is_next():
    assert offset_spec({"stream": "s"}) == ("next", None)


def test_ordinal_maps_to_offset():
    assert offset_spec({"startingOrdinal": "100"}) == ("offset", 100)


def test_timestamp_ms_passthrough():
    assert offset_spec({"startingTimestampMs": "1700000000000"}) == (
        "timestamp",
        1_700_000_000_000,
    )


def test_datetime_tzless_is_utc():
    # 1970-01-01T00:00:01 UTC == 1000 ms regardless of process TZ
    assert offset_spec({"startingDatetime": "1970-01-01T00:00:01"}) == (
        "timestamp",
        1000,
    )


def test_datetime_with_offset_respected():
    assert offset_spec({"startingDatetime": "1970-01-01T01:00:01+01:00"}) == (
        "timestamp",
        1000,
    )


def test_mutual_exclusion_uses_reference_message():
    with pytest.raises(ValueError, match="Cannot provide more than one 'stream_from_'"):
        offset_spec({"startingOrdinal": "1", "startingTimestampMs": "2"})


def test_lowercased_spark_option_keys_accepted():
    # Spark hands a data source its options as a CaseInsensitiveDict
    # whose keys are lowercased.
    from pyspark.sql.datasource import CaseInsensitiveDict

    assert offset_spec(CaseInsensitiveDict({"startingordinal": "7"})) == ("offset", 7)


def test_connection_defaults():
    p = connection_params({"stream": "charges"})
    assert p == {
        "host": "localhost",
        "port": 5552,
        "vhost": "/",
        "username": "guest",
        "password": "guest",
        "stream": "charges",
    }


def test_missing_stream_rejected():
    with pytest.raises(ValueError, match="requires a 'stream' option"):
        connection_params({"host": "broker"})


def test_reader_errors_helpfully_without_client_lib():
    ds = RabbitMQStreamDataSource(options={"stream": "charges", "host": "broker"})
    with pytest.raises((ImportError, NotImplementedError)) as exc:
        ds.streamReader(None)
    # without rstream installed this is the ImportError path, which must
    # point at the file-backed source and echo the resolved connection
    if isinstance(exc.value, ImportError):
        assert "eventstream" in str(exc.value)
        assert "broker:5552" in str(exc.value)
