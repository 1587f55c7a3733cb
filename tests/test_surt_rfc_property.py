"""Property/differential tests for the q112/q113 functions: Spark
expressions vs independent pure-Python reference implementations over
hypothesis-generated inputs (the same strategy test_domains.py uses
for the domain kernel)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from fineweb_domain_analyzer_spark.functions.urls import surt_key
from fineweb_domain_analyzer_spark.operators.filtering import (
    rfc9309_path_allowed,
)

# --- pure-Python references (independent re-derivations) -------------------


def surt_py(url: str | None) -> str | None:
    import re

    if url is None:
        return None
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", url)
    if not m:
        return None
    netloc = m.group(1).lower()
    host = netloc.split(":")[0]
    if host == "":
        return None
    rest = url[m.end() :]
    path = rest.split("#")[0]
    if not path.startswith("/"):
        path = "/" + path
    return ",".join(reversed(host.split("."))) + ")" + path


def rfc_py(path: str, disallow: list[str] | None, allow: list[str] | None) -> bool:
    def longest(rules):
        hits = [len(r) for r in (rules or []) if path.startswith(r)]
        return max(hits) if hits else -1

    return longest(allow) >= longest(disallow)


# --- strategies ------------------------------------------------------------

label = st.text(
    alphabet="abcXYZ019-", min_size=1, max_size=8
).filter(lambda s: not s.startswith("-"))
host = st.lists(label, min_size=1, max_size=4).map(".".join)
pathseg = st.text(alphabet="abc019_.~%", min_size=0, max_size=6)
url_strategy = st.one_of(
    st.builds(
        lambda h, p, port, q, frag: (
            f"https://{h}{port}/{p}{q}{frag}"
        ),
        host,
        pathseg,
        st.sampled_from(["", ":8080", ":443"]),
        st.sampled_from(["", "?q=1", "?a=b&c=d"]),
        st.sampled_from(["", "#frag", "#x/y"]),
    ),
    st.builds(lambda h: f"http://{h}", host),
    # query or fragment with no path
    st.builds(
        lambda h, rest: f"https://{h}{rest}",
        host,
        st.sampled_from(["?q=1", "?a=b&c=d", "#frag", "?q=1#f"]),
    ),
    st.sampled_from(["", "not-a-url", "ftp://x.y/z", "https:///nohost"]),
)

rule = st.text(alphabet="/abc1", min_size=0, max_size=6)
rules = st.one_of(st.none(), st.lists(rule, max_size=4))
path_strategy = st.builds(lambda p: "/" + p, st.text(alphabet="abc1/", max_size=8))


class TestSurtDifferential:
    @settings(
        max_examples=30,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(url_strategy, min_size=1, max_size=20))
    def test_matches_python_reference(self, spark, urls):
        df = spark.createDataFrame(
            [(u,) for u in urls],
            StructType([StructField("url", StringType())]),
        )
        got = [
            r["s"]
            for r in df.select(surt_key(F.col("url")).alias("s")).collect()
        ]
        assert got == [surt_py(u) for u in urls]


class TestRfcDifferential:
    @settings(
        max_examples=30,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.lists(
            st.tuples(path_strategy, rules, rules), min_size=1, max_size=20
        )
    )
    def test_matches_python_reference(self, spark, cases):
        schema = StructType(
            [
                StructField("path", StringType()),
                StructField("d", ArrayType(StringType())),
                StructField("a", ArrayType(StringType())),
            ]
        )
        df = spark.createDataFrame(cases, schema)
        got = [
            r["ok"]
            for r in df.select(
                rfc9309_path_allowed(
                    F.col("path"), F.col("d"), F.col("a")
                ).alias("ok")
            ).collect()
        ]
        assert got == [rfc_py(p, d, a) for p, d, a in cases]
