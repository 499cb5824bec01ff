"""Schema-registry parsing, event bus, store change feed, post-task cleanup."""

from __future__ import annotations

import json

import pytest

from projectone_spark.events import Event, EventManager, webhook_handler
from projectone_spark.features.schema_registry import (
    SchemaRegistryClient,
    apply_registry_schema,
    json_schema_to_spark,
)
from projectone_spark.cdc import save_cdf_state, store_cdf_read
from projectone_spark.store import TableStore, read_changes
from projectone_spark.store.state import StateStore

SCHEMA = "id long, name string, offset long"
BASE = [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


# -- schema registry --------------------------------------------------------

def test_json_schema_to_spark_types():
    js = {"type": "object", "properties": {
        "s": {"type": "string"},
        "n": {"type": "number"},
        "i": {"type": "integer"},
        "b": {"type": "boolean"},
        "ts": {"type": "string", "format": "date-time"},
        "d": {"type": "string", "format": "date"},
        "arr": {"type": "array", "items": {"type": "long"}},
        "nested": {"type": "object", "properties": {"x": {"type": "double"}}},
    }}
    st = json_schema_to_spark(js)
    got = {f.name: f.dataType.simpleString() for f in st.fields}
    assert got == {"s": "string", "n": "float", "i": "int", "b": "boolean",
                   "ts": "timestamp", "d": "date", "arr": "array<bigint>",
                   "nested": "struct<x:double>"}


def test_apply_registry_schema_from_json(spark):
    df = spark.createDataFrame(
        [(1, '{"user": "u1", "score": 5}')], "id long, payload string")
    js = {"type": "object", "properties": {
        "user": {"type": "string"}, "score": {"type": "integer"}}}
    out = apply_registry_schema(df, "payload", json_schema=js,
                                target_column="parsed")
    row = out.select("parsed.user", "parsed.score").collect()[0]
    assert tuple(row) == ("u1", 5)


def test_registry_fetch_offline(spark):
    js = {"type": "object", "properties": {"k": {"type": "string"}}}

    def transport(url: str) -> bytes:
        assert url.endswith("/subjects/topic-value/versions/latest")
        return json.dumps({"schema": json.dumps(js)}).encode()

    reg = SchemaRegistryClient("http://registry", transport)
    df = spark.createDataFrame([(b'{"k": "v"}',)], "payload binary")
    out = apply_registry_schema(df, "payload", registry=reg,
                                subject="topic-value", target_column="p")
    assert out.select("p.k").collect()[0][0] == "v"


# -- event bus --------------------------------------------------------------

def test_event_bus_dispatch_and_webhook():
    posts = []
    bus = EventManager(synchronous=True)
    bus.subscribe("task_failed", webhook_handler(
        "http://hook", transport=lambda url, body: posts.append((url, body))))
    seen = []
    bus.subscribe("*", seen.append)
    bus.dispatch(Event("task_failed", "FAIL", "boom", {"task": "t1"}))
    bus.dispatch(Event("other", "CONTINUE"))
    assert len(posts) == 1 and json.loads(posts[0][1])["severity"] == "FAIL"
    assert [e.name for e in seen] == ["task_failed", "other"]


def test_event_invalid_severity():
    with pytest.raises(ValueError):
        Event("x", "WHATEVER")


def test_event_handler_errors_recorded():
    bus = EventManager(synchronous=True)
    bus.subscribe("x", lambda e: 1 / 0)
    bus.dispatch(Event("x"))
    assert len(bus.errors) == 1


# -- store change feed ------------------------------------------------------

def test_read_changes_append_and_overwrite(spark, tmp_path):
    store = TableStore(str(tmp_path / "store"))
    store.overwrite(spark, spark.createDataFrame(BASE, SCHEMA), "t")       # v0
    store.append(spark, spark.createDataFrame([(4, "d", 40)], SCHEMA), "t")  # v1
    store.overwrite(spark, spark.createDataFrame(BASE[:1], SCHEMA), "t")   # v2

    v1 = read_changes(store, spark, "t", 1, 1)
    assert [(r["id"], r["_change_type"]) for r in v1.collect()] == [(4, "insert")]

    v2 = read_changes(store, spark, "t", 2, 2)
    got = sorted((r["id"], r["_change_type"]) for r in v2.collect())
    assert got == [(2, "delete"), (3, "delete"), (4, "delete")]

    whole = read_changes(store, spark, "t", 0)
    assert whole.filter("_commit_version = 0").count() == 3


def test_read_changes_errors_name_the_table_and_range(spark, tmp_path):
    """A missing table says so whatever range is asked for; a missing
    version names it; an empty range names the inclusive range read."""
    store = TableStore(str(tmp_path / "store"))
    for args in [(1, 3), (0,), (3, 1)]:
        with pytest.raises(FileNotFoundError, match="'nope' does not exist"):
            read_changes(store, spark, "nope", *args)
    store.overwrite(spark, spark.createDataFrame(BASE, SCHEMA), "t")
    with pytest.raises(FileNotFoundError, match="'t' has no version 4"):
        read_changes(store, spark, "t", 5, 6)
    with pytest.raises(ValueError, match=r"no commits in \[1, 0\] for 't'"):
        read_changes(store, spark, "t", 1)


def test_store_cdf_incremental_cycle(spark, tmp_path):
    store = TableStore(str(tmp_path / "store"))
    state = StateStore(str(tmp_path / "state"))
    store.overwrite(spark, spark.createDataFrame(BASE, SCHEMA), "t")
    df, st = store_cdf_read(store, spark, "t", state, "inp")
    assert df.count() == 3
    save_cdf_state(state, st)

    with pytest.raises(ValueError, match="no new commits"):
        store_cdf_read(store, spark, "t", state, "inp")

    store.append(spark, spark.createDataFrame([(9, "z", 90)], SCHEMA), "t")
    df2, st2 = store_cdf_read(store, spark, "t", state, "inp")
    assert [r["id"] for r in df2.collect()] == [9]


# -- post-task cleanup ------------------------------------------------------

def test_post_task_execution_deletes_source(spark, tmp_path):
    import os

    from projectone_spark.task import SparkTask

    src = str(tmp_path / "src")
    spark.createDataFrame(BASE, SCHEMA).write.parquet(src)
    task = (SparkTask.builder
            .setName("cleanup_t")
            .setInput(name="src", path=src, source="parquet",
                      features=[{"name": "post_task_execution",
                                 "operation": "delete",
                                 "path": f"{src}/*.parquet"}])
            .setOutput(name="out", table="target", write_type="overwrite")
            .setStateLocation(str(tmp_path / "state"))
            .setStoreLocation(str(tmp_path / "store"))
            .setSession(spark)
            .create())
    task.execute()
    assert TableStore(str(tmp_path / "store")).read(spark, "target").count() == 3
    assert not [f for f in os.listdir(src) if f.endswith(".parquet")]


def test_webhook_condition_message_and_basic_auth():
    """SubscribedEventConsumer parity: conditional dispatch, fixed
    message override, and basic-auth headers on the POST."""
    import json as _json

    calls = []

    def transport(url, body, headers):
        calls.append((url, _json.loads(body), headers))

    bus = EventManager(synchronous=True)
    bus.subscribe("*", webhook_handler(
        "https://hooks.example/x", transport,
        auth=("basic", "svc", "pw"),
        condition="severity == 'FAIL'",
        message="pipeline failed"))
    bus.dispatch(Event("step_done", severity="CONTINUE"))
    bus.dispatch(Event("task_failed", severity="FAIL", message="orig"))
    assert len(calls) == 1  # CONTINUE filtered out
    url, payload, headers = calls[0]
    assert payload["message"] == "pipeline failed"  # consumer override
    assert headers["Authorization"].startswith("Basic ")
    assert not bus.errors


def test_webhook_oauth_reuses_odata_token_provider():
    import json as _json

    from projectone_spark.sources.odata import OAuthSpec

    auth = OAuthSpec(
        "svc", "pw", "https://id.example",
        token_transport_spec="projectone_spark.sources.odata:MockTokenTransport")
    seen = []

    def transport(url, body, headers):
        seen.append(headers)

    bus = EventManager(synchronous=True)
    bus.subscribe("*", webhook_handler("https://hooks.example/x",
                                       transport, auth=auth))
    bus.dispatch(Event("e", severity="FAIL"))
    assert seen[0]["Authorization"] == "Bearer tok-svc"


def test_webhook_condition_callable_and_legacy_transport():
    hits = []
    bus = EventManager(synchronous=True)
    bus.subscribe("*", webhook_handler(
        "https://hooks.example/x",
        lambda url, body: hits.append(url),  # 2-arg legacy transport
        condition=lambda e: e.severity != "CONTINUE"))
    bus.dispatch(Event("a"))
    bus.dispatch(Event("b", severity="STOP_WH_FAIL"))
    assert hits == ["https://hooks.example/x"]
    assert not bus.errors


def test_condition_grammar_rejects_escapes_and_unknowns():
    """r4 advice: conditions come from untrusted pipeline contracts, so the
    evaluator is a closed AST grammar — attribute chains, calls, and
    unknown names are rejected at subscribe time, never executed."""
    import pytest

    from projectone_spark.events import Event, _compile_condition

    for bad in ("().__class__.__bases__[0]",
                "detail.__class__",
                "__import__('os').system('true')",
                "(lambda: 1)()",
                "[x for x in detail]",
                "nosuchfield == 1"):
        with pytest.raises(ValueError):
            _compile_condition(bad)

    # the supported grammar still works, including detail[...] lookups,
    # chained comparisons, and membership
    check = _compile_condition(
        "severity in ('FAIL', 'STOP_WH_FAIL') and detail['retries'] >= 2 "
        "and not (name == 'skip') and 0 <= ts <= 1e12")
    ev = Event("boom", severity="FAIL", detail={"retries": 3}, ts=5.0)
    assert check(ev) is True
    assert check(Event("boom", severity="CONTINUE",
                       detail={"retries": 3})) is False


def test_webhook_transport_failure_not_duplicated():
    """r4 advice: a TypeError raised INSIDE a 3-arg transport must
    propagate, not fall back to a second (duplicate) 2-arg POST."""
    import pytest

    from projectone_spark.events import post_webhook

    calls = []

    def transport(url, body, headers):
        calls.append(url)
        raise TypeError("boom inside transport after send")

    with pytest.raises(TypeError, match="inside transport"):
        post_webhook("http://x", {"a": 1}, transport)
    assert len(calls) == 1  # the old except-TypeError path re-POSTed

    # legacy 2-arg transports are still detected — by signature, not trial
    def legacy(url, body):
        calls.append(("legacy", url))
        return "ok"

    assert post_webhook("http://y", {"a": 1}, legacy) == "ok"
    assert calls[-1] == ("legacy", "http://y")


def test_webhook_kwargs_and_keyword_only_transports_stay_two_arg():
    """Review regression (r4): signature inspection must count only
    parameters a positional (url, body, hdrs) call can bind — **kwargs and
    keyword-only params made len(params) >= 3 and crashed legacy two-arg
    transports with TypeError."""
    from projectone_spark.events import post_webhook

    seen = []

    def t_kwargs(url, body, **kw):
        seen.append(("kwargs", url))

    def t_kwonly(url, body, *, timeout=5):
        seen.append(("kwonly", url))

    def t_three(url, body, hdrs):
        seen.append(("three", hdrs["Content-Type"]))

    post_webhook("http://x", {"a": 1}, transport=t_kwargs)
    post_webhook("http://x", {"a": 1}, transport=t_kwonly)
    post_webhook("http://x", {"a": 1}, transport=t_three)
    assert seen == [("kwargs", "http://x"), ("kwonly", "http://x"),
                    ("three", "application/json")]


def test_condition_grammar_accepts_negative_literals():
    """Review regression (r4): the AST grammar rejected unary minus, a
    regression from the eval-based conditions it replaced."""
    from projectone_spark.events import Event, _compile_condition

    f = _compile_condition("detail['delta'] > -1 and ts > -5")
    assert f(Event("x", detail={"delta": 0}))
    assert not f(Event("x", detail={"delta": -3}))


def test_condition_unary_minus_rejects_non_literal_operands():
    """r5 advice: `-severity > 1` or `-[1,2]` used to validate at compile
    time and TypeError only when an event was dispatched — the grammar now
    confines unary +/- to numeric literals so bad rules fail at subscribe."""
    import pytest

    from projectone_spark.events import _compile_condition

    for bad in ("-severity > 1", "ts > -[1,2]", "ts > -'x'",
                "-detail['k'] > 1", "ts > --1", "ts > -True"):
        with pytest.raises(ValueError, match="numeric literals"):
            _compile_condition(bad)
    # signed literals still work
    assert _compile_condition("ts > -1.5 and ts > +0")
