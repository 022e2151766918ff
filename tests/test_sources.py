"""Read path P1-P4 semantics + pushdown verification + JDBC plumbing +
schema normalization (T1/T2)."""

from __future__ import annotations

import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pack_spark.schema import (
    CLICKHOUSE_TO_UNIVERSAL,
    MYSQL_TO_UNIVERSAL,
    normalize_schema,
    normalize_type_tags,
    quarantine_invalid,
    universal_struct,
)
from etl_pack_spark.sources.jdbc import jdbc_reader
from etl_pack_spark.sources.reader import TABLES, ReadSpec, open_parquet, windowed_read

LO = datetime.datetime(1996, 1, 1)
HI = datetime.datetime(1996, 12, 31)


def test_projection(spark, sf_dir):
    spec = ReadSpec(table="lineitem", fields=["l_orderkey", "l_extendedprice"])
    df = windowed_read(spark, sf_dir, spec)
    assert df.columns == ["l_orderkey", "l_extendedprice"]


def test_window_inclusive_bounds(spark, sf_dir):
    # BETWEEN is inclusive (mysql/reader/main.go:146-148)
    spec = ReadSpec(table="lineitem", window=("l_shipdate", LO, HI))
    df = windowed_read(spark, sf_dir, spec)
    mn, mx = df.select(F.min("l_shipdate"), F.max("l_shipdate")).first()
    assert mn >= LO and mx <= HI
    assert df.count() > 0


def test_order_desc(spark, sf_dir):
    spec = ReadSpec(table="orders", order=["o_totalprice DESC"], limit=10)
    rows = windowed_read(spark, sf_dir, spec).select("o_totalprice").collect()
    vals = [r[0] for r in rows]
    assert vals == sorted(vals, reverse=True) and len(vals) == 10


def test_filter_and_projection_pushed_to_parquet(spark, sf_dir):
    """The scan must show pushed filters and a pruned ReadSchema —
    this is the plan-shape assertion that P1/P2 cost nothing at scale."""
    spec = ReadSpec(
        table="lineitem",
        fields=["l_orderkey", "l_shipdate"],
        window=("l_shipdate", LO, HI),
    )
    plan = windowed_read(spark, sf_dir, spec)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "l_extendedprice" not in plan  # column pruning happened


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_open_parquet_matches_inference_on_fixtures(spark, sf_dir, count_jobs, sf):
    """The footer-read schema equals Spark's inferred one on every
    fixture table, and the open submits no Spark job."""
    root = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(root):
        pytest.skip(f"no {sf} fixtures")
    for t in TABLES:
        path = f"{root}/{t}.parquet"
        schema, jobs = count_jobs(lambda: open_parquet(spark, path).schema)
        assert jobs == 0, t
        assert schema == spark.read.parquet(path).schema, t


def test_open_parquet_matches_inference_on_transfer_target(spark, sf_dir, tmp_path, count_jobs):
    """A Spark-written target grown by three firings: the directory, its
    ``file:`` URI and a single part file all open with the inferred
    schema and no job."""
    from etl_pack_spark.plans.transfer import TransferConfig, run_transfer

    target = str(tmp_path / "target")
    for lo, hi in ((1993, 1995), (1994, 1996), (1996, 1999)):
        window = ("l_shipdate", datetime.datetime(lo, 1, 1), datetime.datetime(hi, 1, 1))
        run_transfer(spark, TransferConfig(sf_dir, "lineitem", target, window=window))
    part = sorted(glob.glob(f"{target}/part-*.parquet"))[0]
    for path in (target, "file://" + target, part):
        schema, jobs = count_jobs(lambda: open_parquet(spark, path).schema)
        assert jobs == 0, path
        assert schema == spark.read.parquet(path).schema, path
    assert open_parquet(spark, target).count() == spark.read.parquet(target).count()


def test_open_parquet_disagreeing_footers_take_the_first_file(spark, tmp_path, count_jobs):
    """Files whose footers disagree: Spark's inference reads only the
    first data file in path order, and so does the opener (no job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = tmp_path / "mixed"
    target.mkdir()
    pq.write_table(pa.table({"c": pa.array([1], pa.int32()), "d": ["x"]}), target / "part-1.parquet")
    pq.write_table(pa.table({"c": pa.array([2], pa.int64())}), target / "part-0.parquet")
    schema, jobs = count_jobs(lambda: open_parquet(spark, str(target)).schema)
    assert jobs == 0
    assert schema == spark.read.parquet(str(target)).schema
    assert schema.fieldNames() == ["c"]


def test_open_parquet_partitioned_target_falls_back(spark, sf_dir, tmp_path, count_jobs):
    """``k=v`` subdirectories carry partition columns the footers do not
    hold: the open takes Spark's inference, and the schemas agree."""
    from etl_pack_spark.sinks.writers import append_table

    target = str(tmp_path / "by_region")
    append_table(spark.read.parquet(f"{sf_dir}/nation.parquet"), target, partition_by=["n_regionkey"])
    schema, jobs = count_jobs(lambda: open_parquet(spark, target).schema)
    assert jobs >= 1
    assert schema == spark.read.parquet(target).schema
    assert "n_regionkey" in schema.fieldNames()


def test_open_parquet_footer_failure_keeps_rows(spark, sf_dir, count_jobs, monkeypatch):
    """Forced fallback: a footer read that raises leaves the open to
    Spark's inference (one job) with the same rows."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/nation.parquet"
    want = sorted(map(tuple, open_parquet(spark, path).collect()))

    def fail(*args, **kwargs):
        raise OSError("footer read failed")

    monkeypatch.setattr(pq, "read_schema", fail)
    df, jobs = count_jobs(lambda: open_parquet(spark, path))
    assert jobs >= 1
    assert sorted(map(tuple, df.collect())) == want


def test_jdbc_reader_options(spark):
    reader = jdbc_reader(
        spark,
        url="jdbc:mysql://host:3306/DB",
        table="DB.events",
        partition_column="event_date",
        lower_bound="2022-01-01",
        upper_bound="2022-12-31",
        num_partitions=8,
    )
    # plumbing only (no live DB in the container)
    assert reader is not None
    with pytest.raises(ValueError):
        jdbc_reader(spark, "jdbc:mysql://h/d", "t", partition_column="c")


def test_type_tag_normalization():
    # mysql/types/types_test.go matrix: unknown → string
    assert normalize_type_tags(["DATETIME", "INT", "VARCHAR"], MYSQL_TO_UNIVERSAL) == [
        "datetime", "int64", "string",
    ]
    assert normalize_type_tags(["UInt64", "wat"], CLICKHOUSE_TO_UNIVERSAL) == [
        "uint64", "string",
    ]


def test_universal_struct_widens_unsigned():
    st = universal_struct(["a", "b", "c"], ["uint8", "uint64", "float34"])
    assert st["a"].dataType == T.ShortType()
    assert st["b"].dataType == T.DecimalType(20, 0)
    assert st["c"].dataType == T.FloatType()


def test_normalize_schema_datetime(spark):
    # golden micro-fixture 3 (mysql/mysql_test.go:22-30): the
    # "2006-01-02 15:04:05" source format parses to a real timestamp.
    df = spark.createDataFrame(
        [(1000, "Hello", "2022-06-19 19:54:01")], "col_1 long, col_2 string, col_3 string"
    )
    out = normalize_schema(df, {"col_1": "INT", "col_2": "TEXT", "col_3": "DATETIME"},
                           dialect=MYSQL_TO_UNIVERSAL)
    row = out.first()
    assert out.schema["col_3"].dataType == T.TimestampType()
    assert row["col_3"] == datetime.datetime(2022, 6, 19, 19, 54, 1)


def test_quarantine_invalid_datetime(spark):
    # reference aborts the batch on a bad datetime (mysql_test.go:32-38);
    # our scale-friendly variant splits it out instead.
    df = spark.createDataFrame(
        [(1, "2022-06-19 19:54:01"), (2, "Hello!")], "id int, dt string"
    )
    valid, quarantined = quarantine_invalid(df, "dt")
    assert [r["id"] for r in valid.collect()] == [1]
    assert [r["id"] for r in quarantined.collect()] == [2]


def test_strict_datetime_aborts_regardless_of_ansi(spark):
    """strict=True must abort on invalid input even on an ANSI-OFF
    caller session (the reference's abort-the-batch semantics,
    mysql/types/types.go:21-23) — the abort is an explicit raise_error,
    not a reliance on spark.sql.ansi.enabled."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from etl_pack_spark.schema import to_universal_datetime

    df = spark.createDataFrame([(1, "2022-06-19 19:54:01"), (2, "nope")], "id int, dt string")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        strict = df.select(to_universal_datetime(F.col("dt"), strict=True).alias("ts"))
        with pytest.raises(Exception, match="invalid datetime"):
            strict.collect()
        # valid-only input still parses under strict
        ok = df.where("id = 1").select(
            to_universal_datetime(F.col("dt"), strict=True).alias("ts")
        )
        assert ok.first()["ts"] == datetime.datetime(2022, 6, 19, 19, 54, 1)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_window_expression_bounds(spark, sf_dir):
    """Bounds may be SQL expressions (reference passes today() raw into
    generated SQL, clickhouse/reader/main_test.go:46-49)."""
    from etl_pack_spark.sources.reader import sql_bound

    spec = ReadSpec(
        table="lineitem",
        fields=["l_orderkey", "l_shipdate"],
        window=("l_shipdate",
                sql_bound("TIMESTAMP'1996-01-01' + INTERVAL 0 DAYS"),
                sql_bound("TIMESTAMP'1996-01-01' + INTERVAL 365 DAYS")),
    )
    got = windowed_read(spark, sf_dir, spec)
    want = windowed_read(spark, sf_dir, ReadSpec(
        table="lineitem", fields=["l_orderkey", "l_shipdate"],
        window=("l_shipdate", datetime.datetime(1996, 1, 1),
                datetime.datetime(1996, 1, 1) + datetime.timedelta(days=365)),
    ))
    assert got.count() == want.count() > 0


class TestDialectGoldenSql:
    """String-exact pins of the remote SQL shapes the reference's
    generators emit (ported golden vectors: mysql/reader/main_test.go
    cases for the paginated reader, mysql/writer/main_test.go for the
    snapshot query) — the un-runnable live-dialect delta is at least
    text-pinned to the reference."""

    def test_reader_golden_four_cases(self):
        from etl_pack_spark.sources.jdbc import page_query

        assert page_query("*", "DB.table") == \
            "SELECT * FROM DB.table   LIMIT 0, 1000"
        assert page_query(
            "*", "DB.table",
            cursor="event_date", cursor_min="toDate('2022-06-19')",
            cursor_max="today()",
        ) == ("SELECT * FROM DB.table WHERE event_date BETWEEN "
              "toDate('2022-06-19') AND today()  LIMIT 0, 1000")
        assert page_query("*", "DB.table", order_by="evenr_date DESC") == \
            "SELECT * FROM DB.table  ORDER BY evenr_date DESC LIMIT 0, 1000"
        assert page_query(
            "*", "DB.table",
            cursor="event_date", cursor_min="toDate('2022-06-19')",
            cursor_max="today()", order_by="evenr_date DESC",
        ) == ("SELECT * FROM DB.table WHERE event_date BETWEEN "
              "toDate('2022-06-19') AND today() ORDER BY evenr_date DESC "
              "LIMIT 0, 1000")

    def test_snapshot_golden_two_cases(self):
        from etl_pack_spark.sources.jdbc import snapshot_query

        assert snapshot_query("*", "DB.table") == "SELECT * FROM DB.table "
        assert snapshot_query(
            "*", "DB.table",
            cursor="event_date",
            cursor_min="STR_TO_DATE('2022-06-19', '%Y-%m-%d')",
            cursor_max="STR_TO_DATE('2022-12-12', '%Y-%m-%d')",
        ) == ("SELECT * FROM DB.table WHERE event_date BETWEEN "
              "STR_TO_DATE('2022-06-19', '%Y-%m-%d') AND "
              "STR_TO_DATE('2022-12-12', '%Y-%m-%d')")

    def test_snapshot_query_executes_live(self, spark, sf_dir):
        """The snapshot shape actually runs over JDBC (embedded Derby):
        the generated string is valid remote SQL, not just a pin."""
        from etl_pack_spark.sinks.writers import jdbc_writer
        from etl_pack_spark.sources.jdbc import jdbc_reader, snapshot_query

        url = "jdbc:derby:memory:etlpackgq;create=true"
        drv = "org.apache.derby.jdbc.EmbeddedDriver"
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        jdbc_writer(nation, url, "nation_gq", mode="overwrite").option(
            "driver", drv
        ).save()
        # Derby folds unquoted identifiers to upper case while the
        # Spark JDBC writer created quoted lower-case columns — quote
        # them (fields pass through snapshot_query verbatim, exactly
        # like the reference's dialect expressions)
        q = snapshot_query(
            '"n_nationkey", "n_name"', "nation_gq",
            cursor='"n_nationkey"', cursor_min="5", cursor_max="9",
        )
        got = (
            jdbc_reader(spark, url, "ignored", query=q)
            .option("driver", drv).load()
        )
        want = nation.where("n_nationkey BETWEEN 5 AND 9").select(
            "n_nationkey", "n_name"
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


class TestClickhouseFormatJson:
    """FORMAT JSON response decoding — the engine-side half of the
    reference's ClickHouse read transport, against golden bodies."""

    BODY = {
        "meta": [
            {"name": "ts", "type": "DateTime"},
            {"name": "uid", "type": "UInt64"},
            {"name": "n", "type": "Int32"},
            {"name": "name", "type": "String"},
            {"name": "xs", "type": "Array(Int64)"},   # unknown -> string
        ],
        "data": [
            {"ts": "2022-06-19 12:30:45", "uid": "18446744073709551615",
             "n": -7, "name": "a'b", "xs": [1, 2]},
            {"ts": "2022-06-20 00:00:00", "uid": "1",
             "n": 0, "name": "", "xs": []},
        ],
        "rows": 2,
    }

    def test_single_page_types_and_values(self, spark):
        import json as _json

        from etl_pack_spark.sources.clickhouse_json import clickhouse_json_to_df

        df = clickhouse_json_to_df(spark, _json.dumps(self.BODY))
        assert [f.dataType.simpleString() for f in df.schema.fields] == [
            "timestamp", "decimal(20,0)", "int", "string", "string"
        ]
        rows = sorted(map(tuple, df.collect()))
        import datetime as dt
        import decimal

        assert rows[0][0] == dt.datetime(2022, 6, 19, 12, 30, 45)
        assert rows[0][1] == decimal.Decimal(18446744073709551615)
        assert rows[0][2] == -7 and rows[0][3] == "a'b"
        assert rows[0][4] == "[1,2]"          # unknown tag: stringified

    def test_distributed_pages_decode_on_executors(self, spark):
        import json as _json

        from etl_pack_spark.sources.clickhouse_json import (
            clickhouse_json_pages,
            clickhouse_json_to_df,
        )

        page2 = dict(self.BODY)
        page2["data"] = [{"ts": "2023-01-01 01:02:03", "uid": "5",
                          "n": 9, "name": "x", "xs": [3]}]
        bodies = spark.createDataFrame(
            [(1, _json.dumps(self.BODY)), (2, _json.dumps(page2))],
            "page int, body string",
        )
        names = [m["name"] for m in self.BODY["meta"]]
        types = [m["type"] for m in self.BODY["meta"]]
        got = clickhouse_json_pages(bodies, names, types)
        want = clickhouse_json_to_df(spark, _json.dumps(self.BODY)).unionByName(
            clickhouse_json_to_df(spark, _json.dumps(page2))
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
        # plan: Arrow-batched stage, not row-at-a-time Python
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan

    def test_mismatched_page_meta_raises(self, spark):
        import json as _json

        import pytest as _pt

        from etl_pack_spark.sources.clickhouse_json import clickhouse_json_pages

        bad = {"meta": [{"name": "other", "type": "Int32"}], "data": []}
        bodies = spark.createDataFrame(
            [(1, _json.dumps(bad))], "page int, body string"
        )
        with _pt.raises(Exception, match="meta"):
            clickhouse_json_pages(bodies, ["ts"], ["DateTime"]).collect()


def test_clickhouse_quoted_int64_default_config(spark):
    """ClickHouse's DEFAULT config quotes 64-bit integers as JSON
    strings (output_format_json_quote_64bit_integers=1). Both decode
    paths must accept that body, and the executor path must keep full
    64-bit precision even with NULLs in the column (a float64 routing
    would corrupt values beyond 2^53)."""
    import json as _json

    from etl_pack_spark.sources.clickhouse_json import (
        clickhouse_json_pages,
        clickhouse_json_to_df,
    )

    body = {
        "meta": [{"name": "iv", "type": "Int64"},
                 {"name": "n32", "type": "Int32"}],
        "data": [
            {"iv": "9223372036854775807", "n32": 1},
            {"iv": "-9223372036854775808", "n32": 2},
            {"iv": "9007199254740993", "n32": 3},   # 2^53 + 1
            {"iv": None, "n32": 4},
        ],
        "rows": 4,
    }
    want = [(9223372036854775807, 1), (-9223372036854775808, 2),
            (9007199254740993, 3), (None, 4)]
    drv = clickhouse_json_to_df(spark, _json.dumps(body))
    assert sorted(map(tuple, drv.collect()), key=lambda r: r[1]) == want
    bodies = spark.createDataFrame([(1, _json.dumps(body))],
                                   "page int, body string")
    exe = clickhouse_json_pages(bodies, ["iv", "n32"], ["Int64", "Int32"])
    assert sorted(map(tuple, exe.collect()), key=lambda r: r[1]) == want


def test_clickhouse_unknown_bool_renders_go_style(spark):
    import json as _json

    from etl_pack_spark.sources.clickhouse_json import clickhouse_json_to_df

    body = {"meta": [{"name": "b", "type": "Bool"}],
            "data": [{"b": True}, {"b": False}, {"b": None}]}
    vals = sorted(
        (r["b"] for r in clickhouse_json_to_df(spark, _json.dumps(body)).collect()),
        key=lambda v: (v is None, v),
    )
    assert vals == ["false", "true", None]


def test_clickhouse_null_body_raises(spark):
    import pytest as _pt

    from etl_pack_spark.sources.clickhouse_json import clickhouse_json_pages

    bodies = spark.createDataFrame([(1, None)], "page int, body string")
    with _pt.raises(Exception, match="NULL response body"):
        clickhouse_json_pages(bodies, ["b"], ["Bool"]).collect()


class TestClickhouseLoopbackTransport:
    """The reference's HTTP wire path (clickhouse.go:29-79) driven for
    real against a loopback fixture server: POST body carries the
    query, basic auth rides the Authorization header, SELECTs get
    ' FORMAT JSON' appended, non-200 surfaces the response body as the
    error, and fetched pages flow into the Arrow-batched decoder."""

    BODY1 = {
        "meta": [{"name": "n", "type": "Int32"},
                 {"name": "name", "type": "String"}],
        "data": [{"n": 1, "name": "a"}, {"n": 2, "name": "b"}],
        "rows": 2,
    }
    BODY2 = {
        "meta": [{"name": "n", "type": "Int32"},
                 {"name": "name", "type": "String"}],
        "data": [{"n": 3, "name": "c"}],
        "rows": 1,
    }

    @pytest.fixture()
    def server(self):
        import base64
        import json as _json
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        from etl_pack_spark.sources.jdbc import page_query

        pages = {
            page_query("n, name", "db.t", order_by="n", offset=0, limit=2)
            + " FORMAT JSON": _json.dumps(self.BODY1),
            page_query("n, name", "db.t", order_by="n", offset=2, limit=2)
            + " FORMAT JSON": _json.dumps(self.BODY2),
        }
        token = base64.b64encode(b"etl:secret").decode()
        seen: list[str] = []

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                q = self.rfile.read(
                    int(self.headers.get("Content-Length", 0))
                ).decode()
                seen.append(q)
                if self.headers.get("Authorization") != f"Basic {token}":
                    self._reply(401, "Code: 516. Authentication failed")
                elif q in pages:
                    self._reply(200, pages[q])
                elif q.startswith("INSERT"):
                    self._reply(200, "")
                else:
                    self._reply(404, f"Code: 60. Unknown query: {q}")

            def _reply(self, code, body):
                data = body.encode()
                self.send_response(code)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *a):
                pass

        try:
            srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        except OSError as e:  # pragma: no cover - sandbox without loopback
            pytest.skip(f"loopback sockets unavailable in sandbox: {e}")
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        try:
            yield f"http://127.0.0.1:{srv.server_address[1]}/", seen
        finally:
            srv.shutdown()
            srv.server_close()

    def test_select_appends_format_json_and_decodes(self, spark, server):
        import json as _json

        from etl_pack_spark.sources.clickhouse_json import (
            clickhouse_fetch_pages,
            clickhouse_json_pages,
            clickhouse_json_to_df,
        )
        from etl_pack_spark.sources.jdbc import page_query

        address, seen = server
        queries = [
            page_query("n, name", "db.t", order_by="n", offset=o, limit=2)
            for o in (0, 2)
        ]
        bodies = clickhouse_fetch_pages(
            spark, address, queries, user="etl", password="secret"
        )
        got = clickhouse_json_pages(bodies, ["n", "name"], ["Int32", "String"])
        want = clickhouse_json_to_df(spark, _json.dumps(self.BODY1)).unionByName(
            clickhouse_json_to_df(spark, _json.dumps(self.BODY2))
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
        # the wire really saw ' FORMAT JSON'-suffixed page SQL
        assert sorted(seen) == sorted(q + " FORMAT JSON" for q in queries)

    def test_bad_auth_surfaces_server_body(self, server):
        from etl_pack_spark.sources.clickhouse_json import clickhouse_http_query

        address, _ = server
        with pytest.raises(ValueError, match="Authentication failed"):
            clickhouse_http_query(
                address, "SELECT n, name FROM db.t  ORDER BY n LIMIT 0, 2",
                user="etl", password="wrong",
            )

    def test_error_body_is_the_exception(self, server):
        from etl_pack_spark.sources.clickhouse_json import clickhouse_http_query

        address, _ = server
        with pytest.raises(ValueError, match="Code: 60"):
            clickhouse_http_query(address, "SELECT broken", "etl", "secret")

    def test_non_select_returns_none_without_format_json(self, server):
        from etl_pack_spark.sources.clickhouse_json import clickhouse_http_query

        address, seen = server
        out = clickhouse_http_query(
            address, "INSERT INTO db.t VALUES (9, 'z')", "etl", "secret"
        )
        assert out is None
        assert seen[-1] == "INSERT INTO db.t VALUES (9, 'z')"  # no suffix

    def test_fetch_pages_rejects_non_read_queries(self, spark, server):
        """A non-SELECT-prefixed query (lowercase select, WITH...SELECT,
        SHOW) gets no FORMAT JSON suffix and no body from the transport
        — routed through fetch_pages it would surface as NULL body rows
        that break the decode with no cause. Rejected up front."""
        from etl_pack_spark.sources.clickhouse_json import (
            clickhouse_fetch_pages,
        )

        address, _ = server
        for bad in (
            "select lowercase",
            "WITH x AS (SELECT 1) SELECT * FROM x",
            "SHOW TABLES",
        ):
            with pytest.raises(ValueError, match="SELECT-prefixed"):
                clickhouse_fetch_pages(spark, address, ["SELECT ok", bad])
