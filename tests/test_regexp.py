"""Regexp transform golden tests — exact payload strings from
transformer_test.go:66-133 (specs pubsubsrc-regexp-{reqs,barusage}).
"""

import pytest

from geist_spark.compiler.transform import compile_transform
from geist_spark.spec.model import parse_spec

from tests.conftest import event_df
from tests.test_transform import spec_with_transform

ACCESS_LOG_RX = (
    "^(?P<customer>\\w[a-z0-9]*)-?(?P<reqLoc>[^\\.]*).{1}[a-z]*.{1}[a-z]*\\:?"
    "(?P<port>\\d{0,4})\\|{1}(?P<ip>.*?[^\\|])\\|.*\\[(?P<ts>[^\\]]*).*"
    "(?P<httpVerb>POST|GET|DELETE|PUT|PATCH|OPTIONS|HEAD)\\s{1}"
    "(?P<reqPath>\\/(?:\\/[^\\/]+){4}|[^\\\\?| ;]+).*HTTP\\/\\d{1}.\\d{1}\\|"
    "(?P<httpResponse>\\d*).*"
)

APP_LOG_RX = (
    "^(?P<ts>.{29})\\s{1}(?P<logLevel>.*) \\s\\[LOG\\_(?P<customer>[^\\.]+).*"
    "BarService\\.(?P<method>[^\\]]+).*Invocation took: (?P<responseTime>[\\d]+)"
)

ACCESS_EVENT = (
    '{"insertId":"a6bf3a8d-4fe0-40d9-bfce-0ebe5bdbdb86","labels":{"foo":"bar"},'
    '"logName":"fooservice/accesslog","rcvTimestamp":"2020-06-16T12:06:31.869709059Z",'
    '"textPayload":"cust1-loc1.somesite.com|11.222.123.123|https://<lots more stuff>|'
    '<ua info...>|-|-|-|[17/Jun/2020:09:10:25 +0200]<|GET /some/reqPath;more-stuff... '
    'HTTP/1.1|200|996|19","timestamp":"2020-06-16T12:06:26.723709116Z"}'
)

APP_EVENT = (
    '{"insertId":"d5696f71-9202-45e4-ba9d-40d467fb7516","labels":{"foo":"bar"},'
    '"logName":"fooservice/accesslog","rcvTimestamp":"2020-06-16T12:06:31.869709059Z",'
    '"textPayload":"2020-07-01 16:06:57,695 +0200 INFO  [LOG_cust2.BarService.getUserInfo] '
    '(HTTP-126) Invocation took: 493 ms (492835106 ns)",'
    '"timestamp":"2020-06-16T12:06:26.723709116Z"}'
)


def _regexp_transform(expression, input_format):
    return {
        "extractFields": [
            {"fields": [{"id": "logEvent", "jsonPath": "textPayload", "type": "string"}]}
        ],
        "regexp": {
            "field": "logEvent",
            "expression": expression,
            "timeConversion": {"field": "ts", "inputFormat": input_format},
        },
    }


def run(spark, transform, event):
    """-> (records, number of rejected events) from one routed frame."""
    ct = compile_transform(parse_spec(spec_with_transform(transform)))
    routed = ct.route(event_df(spark, event))
    return [r.asDict() for r in ct.records(routed).collect()], ct.errors(routed).count()


def test_access_log_golden(spark):
    # golden from transformer_test.go:88
    t = _regexp_transform(ACCESS_LOG_RX, "02/Jan/2006:15:04:05 -0700")
    out, rejected = run(spark, t, ACCESS_EVENT)
    assert rejected == 0
    assert len(out) == 1
    assert out[0]["regexppayload"] == (
        '{"customer":"cust1","httpResponse":"200","httpVerb":"GET",'
        '"ip":"11.222.123.123","port":"","reqLoc":"loc1","reqPath":"/some/reqPath",'
        '"ts":"2020-06-17T09:10:25+02:00"}'
    )
    # consumed field removed (keepField default false)
    assert "logEvent" not in out[0]


def test_app_log_golden(spark):
    # golden from transformer_test.go:110
    t = _regexp_transform(APP_LOG_RX, "2006-01-02 15:04:05.999 -0700")
    out, rejected = run(spark, t, APP_EVENT)
    assert rejected == 0
    assert out[0]["regexppayload"] == (
        '{"customer":"cust2","logLevel":"INFO","method":"getUserInfo",'
        '"responseTime":"493","ts":"2020-07-01T16:06:57+02:00"}'
    )


def test_non_matching_event_is_rejected(spark):
    t = _regexp_transform(APP_LOG_RX, "2006-01-02 15:04:05.999 -0700")
    bad = '{"textPayload": "not a log line at all"}'
    out, rejected = run(spark, t, bad)
    assert out == []
    assert rejected == 1


def test_keep_field(spark):
    t = {
        "extractFields": [{"fields": [{"id": "logEvent", "jsonPath": "line", "type": "string"}]}],
        "regexp": {"field": "logEvent", "keepField": True, "expression": "(?P<word>[a-z]+)"},
    }
    out, rejected = run(spark, t, '{"line": "hello world"}')
    assert rejected == 0
    assert out[0]["logEvent"] == "hello world"
    assert out[0]["regexppayload"] == '{"word":"hello"}'


def test_regexp_on_raw_event_without_extract(spark):
    t = {"regexp": {"expression": '"id":"(?P<id>[a-z0-9]+)"'}}
    out, rejected = run(spark, t, '{"id":"abc123","x":1}')
    assert rejected == 0
    assert out[0]["regexppayload"] == '{"id":"abc123"}'


# timeConv goldens (transformer_test.go:114-133)

@pytest.mark.parametrize(
    "layout,value,expected",
    [
        ("2006-01-02 03:04:05.999 -0700", "2020-07-01 12:23:03,494 +0200", "2020-07-01T12:23:03+02:00"),
        ("02/Jan/2006:15:04:05 -0700", "01/Jul/2020:13:21:37 +0200", "2020-07-01T13:21:37+02:00"),
    ],
)
def test_timeconv_goldens(spark, layout, value, expected):
    from pyspark.sql import functions as F

    from geist_spark.functions.timeconv import convert_time

    df = spark.createDataFrame([(value,)], "v string")
    got = df.select(convert_time(F.col("v"), layout, None).alias("o")).collect()[0]["o"]
    assert got == expected
