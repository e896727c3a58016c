"""Sink parity tests: exposition golden format + real scrape endpoint
(VERDICT r1 items 3 and 8).
"""

from __future__ import annotations

import urllib.request

from confluent_example_firehose_spark.operators.firehose import parse_metrics
from confluent_example_firehose_spark.streaming.pipeline import (
    metric_latest_value_stream,
)
from confluent_example_firehose_spark.streaming.sinks import (
    ScrapeServer,
    to_prometheus_text,
)

from test_golden_fixture import GOLDEN_JSON


def test_exposition_golden_record(spark):
    """The reference's golden record (FirehoseMetricTest.java:16)
    rendered with the reference's exact gauge metadata
    (AbstractPrometheusFirehose.java:53-63): full name = namespace
    ('kafka', the component) + '_' + metric name per the prometheus
    client's prefixing, help = 'Confluent Metric: '+name, key-sorted
    labels minus 'unit'."""
    df = spark.createDataFrame([(GOLDEN_JSON,)], "value string")
    state = metric_latest_value_stream(parse_metrics(df))
    text = to_prometheus_text(state)
    assert text == (
        "# HELP kafka_request_bytes_total "
        "Confluent Metric: request_bytes_total\n"
        "# TYPE kafka_request_bytes_total gauge\n"
        "kafka_request_bytes_total{"
        'request_type="ApiVersions",source="kafka-3",'
        'tenant="lkc-loz7y",user="1191"} 47.0\n'
    )


def test_exposition_multiple_metrics_grouped(spark):
    """One HELP/TYPE block per (component, name) family, families
    sorted, series sorted within a family."""
    second = GOLDEN_JSON.replace("request_bytes_total", "response_bytes_total")
    third = GOLDEN_JSON.replace('"user":"1191"', '"user":"0042"').replace(
        "2e2a44dc", "aaaaaaaa"
    ).replace('"value":47', '"value":3')
    df = spark.createDataFrame(
        [(GOLDEN_JSON,), (second,), (third,)], "value string"
    )
    text = to_prometheus_text(metric_latest_value_stream(parse_metrics(df)))
    lines = text.strip().splitlines()
    assert lines[0] == (
        "# HELP kafka_request_bytes_total "
        "Confluent Metric: request_bytes_total"
    )
    assert lines[1] == "# TYPE kafka_request_bytes_total gauge"
    # two series of request_bytes_total, user=0042 sorts first
    assert 'user="0042"} 3.0' in lines[2]
    assert 'user="1191"} 47.0' in lines[3]
    assert lines[4] == (
        "# HELP kafka_response_bytes_total "
        "Confluent Metric: response_bytes_total"
    )
    assert lines[5] == "# TYPE kafka_response_bytes_total gauge"


def test_exposition_label_escaping(spark):
    """Backslash/quote/newline in a tag value must not break the
    payload."""
    bad = GOLDEN_JSON.replace('"tenant":"lkc-loz7y"', '"tenant":"a\\"b\\\\c"')
    df = spark.createDataFrame([(bad,)], "value string")
    text = to_prometheus_text(metric_latest_value_stream(parse_metrics(df)))
    assert 'tenant="a\\"b\\\\c"' in text


def test_scrape_endpoint_serves_exposition(spark):
    """Real HTTP scrape (PrometheusPuller.java:50-65 twin): GET the
    endpoint, parse the exposition text back."""
    df = spark.createDataFrame([(GOLDEN_JSON,)], "value string")
    state = metric_latest_value_stream(parse_metrics(df))
    server = ScrapeServer(lambda: to_prometheus_text(state))
    try:
        url = f"http://{server.host}:{server.port}/metrics"
        with urllib.request.urlopen(url, timeout=10) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/plain")
            body = resp.read().decode("utf-8")
        samples = [
            line
            for line in body.strip().splitlines()
            if not line.startswith("#")
        ]
        assert len(samples) == 1
        metric_part, value_part = samples[0].rsplit(" ", 1)
        assert metric_part.startswith("kafka_request_bytes_total{")
        assert float(value_part) == 47.0
    finally:
        server.close()


def test_scrape_endpoint_error_isolated(spark):
    """A render failure must return 500, not kill the server
    (scrape-after-error still works)."""
    calls = {"n": 0}

    def render() -> str:
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("boom")
        return "# HELP ok ok\n# TYPE ok gauge\nok 1.0\n"

    server = ScrapeServer(render)
    try:
        url = f"http://{server.host}:{server.port}/metrics"
        try:
            urllib.request.urlopen(url, timeout=10)
            raised = False
        except urllib.error.HTTPError as e:
            raised = True
            assert e.code == 500
        assert raised
        with urllib.request.urlopen(url, timeout=10) as resp:
            assert resp.status == 200
    finally:
        server.close()


class _RecordingGateway:
    """Minimal PushGateway stand-in: records every POST body + path."""

    def __init__(self) -> None:
        import http.server
        import threading

        self.requests: list[tuple[str, str, str]] = []  # (method, path, body)
        recorder = self.requests

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 (http.server API)
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n).decode("utf-8")
                recorder.append(("POST", self.path, body))
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args: object) -> None:
                pass

        self._server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.host, self.port = self._server.server_address[:2]
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()


def test_gateway_push_round_trip(spark):
    """Push N epochs through the real HTTP client; the gateway must see N
    POSTs on /metrics/job/<job>, each parseable as exposition text
    (pushAdd twin, PrometheusPusher.java:61-67; VERDICT r2 #4)."""
    from confluent_example_firehose_spark.streaming.sinks import gateway_push_fn

    df = spark.createDataFrame([(GOLDEN_JSON,)], "value string")
    text = to_prometheus_text(metric_latest_value_stream(parse_metrics(df)))
    gw = _RecordingGateway()
    try:
        push = gateway_push_fn(f"{gw.host}:{gw.port}", "fire hose/job")
        n_epochs = 3
        for epoch in range(n_epochs):
            push(text, epoch)
        assert len(gw.requests) == n_epochs
        for method, path, body in gw.requests:
            assert method == "POST"
            # job name URL-encoded into the path (space and slash)
            assert path == "/metrics/job/fire%20hose%2Fjob"
            samples = [
                line
                for line in body.strip().splitlines()
                if not line.startswith("#")
            ]
            assert len(samples) == 1
            assert float(samples[0].rsplit(" ", 1)[1]) == 47.0
    finally:
        gw.close()


def test_gateway_push_failure_isolated(spark):
    """An unreachable gateway must not raise out of the push callback —
    the stream survives, matching the reference's endOfSet catch
    (AbstractFirehose.java:126-130)."""
    from confluent_example_firehose_spark.streaming.sinks import gateway_push_fn

    # nothing listens on this port (bind-then-close guarantees free)
    import socket

    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    push = gateway_push_fn(f"127.0.0.1:{port}", "j", timeout_s=2)
    push("x 1.0\n", 0)  # must not raise


def test_generic_branch_keeps_name_column_as_label(spark):
    """A generic latest-value table with a `name` key column (but not
    the full metric shape) must keep `name` as a label — dropping it
    would collapse distinct series (ADVICE r2)."""
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], ["name", "last_value"]
    )
    text = to_prometheus_text(df)
    assert 'name="a"' in text and 'name="b"' in text


def test_generic_branch_renders_dotted_column_name(spark):
    """A key column whose name holds a dot is one column, not a field
    access, in the render's ordered collect."""
    df = spark.createDataFrame(
        [("b", 2.0), ("a", 1.0)], "`host.name` string, last_value double"
    )
    samples = to_prometheus_text(df).splitlines()[2:]
    assert samples == [
        'firehose_last_value{host.name="a"} 1.0',
        'firehose_last_value{host.name="b"} 2.0',
    ]


def test_scrape_cap_refuses_unbounded_state(spark):
    """VERDICT r4 item 7: the render is driver-side by design (the
    state table IS the scrape payload), so the reference's registry
    cap (maximumSize(10000), AbstractPrometheusFirehose.java:22) must
    be enforced — an over-cap table raises instead of collecting."""
    import pytest

    from confluent_example_firehose_spark.streaming.sinks import (
        MAX_SCRAPE_SERIES,
    )

    over = spark.range(MAX_SCRAPE_SERIES + 1).selectExpr(
        "CAST(id AS STRING) AS series", "CAST(id AS DOUBLE) AS last_value"
    )
    with pytest.raises(ValueError, match="bounded registry"):
        to_prometheus_text(over)
    # at the cap exactly, rendering still works
    under = spark.createDataFrame([("s", 1.0)], ["series", "last_value"])
    assert "firehose_last_value" in to_prometheus_text(under)


def _job_ids(spark, action) -> list[int]:
    """Spark job ids that action() ran, counted under a fresh job group
    through the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted action")
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _partitioned_state(spark, n_series: int, n_parts: int = 4):
    """A materialized METRIC_SCHEMA state frame of n_parts partitions
    (the state store's shuffle partitions), with no shuffle left in its
    plan."""
    rows = [
        GOLDEN_JSON.replace('"user":"1191"', f'"user":"{i:05d}"')
        .replace("2e2a44dc", f"{i:08x}")
        for i in range(n_series)
    ]
    df = spark.createDataFrame([(r,) for r in rows], "value string")
    state = (
        metric_latest_value_stream(parse_metrics(df))
        .repartition(n_parts)
        .localCheckpoint()
    )
    assert state.rdd.getNumPartitions() >= n_parts
    return state


def test_render_is_one_job_over_all_state_partitions(spark):
    """to_prometheus_text computes every state partition in one job (an
    ordered limit, TakeOrderedAndProject); a bare limit's incremental
    take runs partition 0 alone, then the rest in a second job."""
    state = _partitioned_state(spark, 40)
    out: list[str] = []
    jobs = _job_ids(spark, lambda: out.append(to_prometheus_text(state)))
    assert len(jobs) == 1, jobs
    samples = [ln for ln in out[0].splitlines() if not ln.startswith("#")]
    assert len(samples) == 40
    assert samples == sorted(samples)  # user=00000 .. 00039, key-sorted


def test_render_cap_still_raises_over_partitioned_state(spark, monkeypatch):
    """The one-job collect stays bounded: one row over the cap, spread
    across partitions, still refuses the render."""
    import pytest

    import confluent_example_firehose_spark.streaming.sinks as sinks

    state = _partitioned_state(spark, 9)
    monkeypatch.setattr(sinks, "MAX_SCRAPE_SERIES", 8)
    with pytest.raises(ValueError, match="bounded registry"):
        to_prometheus_text(state)
    monkeypatch.setattr(sinks, "MAX_SCRAPE_SERIES", 9)
    assert to_prometheus_text(state).count("kafka_request_bytes_total{") == 9


def _exposition_samples(text: str) -> dict[str, str]:
    """{metric{labels}: value} of one exposition payload."""
    out = {}
    for line in text.splitlines():
        if line and not line.startswith("#"):
            key, value = line.rsplit(" ", 1)
            out[key] = value
    return out


def test_push_drain_equals_batch_render(spark, tmp_path):
    """Three staged poll files of JSON `value` rows, corrupt rows
    included, drained through file_event_stream -> parse_metrics ->
    metric_latest_value_stream -> push_sink: replaying the pushes
    last-push-wins gives exactly the samples of the batch render of
    the same rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from confluent_example_firehose_spark.streaming.pipeline import (
        file_event_stream,
    )
    from confluent_example_firehose_spark.streaming.sinks import push_sink

    polls = tmp_path / "polls"
    polls.mkdir()
    all_rows: list[str | None] = []
    for p in range(3):
        # the last poll carries the oldest stamps: its rows lose to the
        # state, and their series are still pushed with the older max
        ts0 = 1572402480 + 60 * ((p + 1) % 3)
        rows: list[str | None] = [
            GOLDEN_JSON.replace('"user":"1191"', f'"user":"{(i * 7 + p) % 12:04d}"')
            .replace("request_bytes", ("request_bytes", "response_bytes")[i % 2])
            .replace("2e2a44dc", f"{p:02d}{i:06d}")
            .replace('"timestamp":1572402480', f'"timestamp":{ts0 + i}')
            .replace('"value":47', f'"value":{p * 100 + i + 0.25}')
            for i in range(30)
        ]
        rows += ["not json {", None, '{"unrelated": 1}', '{"id": "trunc']
        path = str(polls / f"poll-{p}.parquet")
        pq.write_table(pa.table({"value": pa.array(rows, pa.string())}), path)
        os.utime(path, (1_000_000 + p, 1_000_000 + p))  # read in poll order
        all_rows += rows

    pushed: list[str] = []
    q = push_sink(
        metric_latest_value_stream(parse_metrics(file_event_stream(spark, str(polls)))),
        lambda text, epoch_id: pushed.append(text),
        str(tmp_path / "ckpt"),
        query_name="push_drain_equals_batch",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(pushed) == 3  # one push per poll file
    replayed: dict[str, str] = {}
    for text in pushed:
        replayed.update(_exposition_samples(text))

    batch = spark.createDataFrame([(r,) for r in all_rows], "value string")
    want = to_prometheus_text(metric_latest_value_stream(parse_metrics(batch)))
    assert replayed == _exposition_samples(want)
    assert len(replayed) == 24  # 2 metrics x 12 users
