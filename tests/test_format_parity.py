"""Typed-path format predicates agree with the interpreter's format
checkers and with an expected verdict on an in-repo corpus of valid and
invalid strings for every format in ``interp._FORMAT_CHECKS``.  The
native-regex formats (uuid, duration, hostname, json-pointer, date, ...)
are separate implementations from ``interp._FORMAT_CHECKS`` and can drift;
the Python formats cross the one Arrow-batched judge.  The installed
``jsonschema`` format checker (2020-12) judges the same strings wherever
it knows the format, apart from the deviations listed in
``JSONSCHEMA_DEVIATES``."""

from __future__ import annotations

import jsonschema
from pyspark.sql import functions as F

from go_jsonschema_spark.functions.formats import format_predicate
from go_jsonschema_spark.interp import _FORMAT_CHECKS

# format -> (valid strings, invalid strings)
CASES = {
    "date": (
        ["1963-06-19", "2020-02-29", "2000-02-29", "1999-12-31", "2021-01-01"],
        ["2021-02-29", "1900-02-29", "2020-13-01", "2020-04-31", "06/19/1963",
         "2020-1-01", "1998-01-32"],
    ),
    "date-time": (
        ["1963-06-19T08:30:06.283185Z", "1963-06-19T08:30:06Z",
         "1937-01-01T12:00:27.87+00:20", "1990-12-31T15:59:50.123-08:00",
         "1998-12-31T23:59:60Z", "1963-06-19t08:30:06z"],
        ["1990-02-31T15:59:59.123-08:00", "1990-12-31T15:59:59-24:00",
         "06/19/1963 08:30:06 PST", "2013-350T01:01:01",
         "1963-06-19T08:30:06", "1998-12-31T23:58:60Z", "1963-06-19"],
    ),
    "time": (
        ["08:30:06Z", "08:30:06.283185Z", "08:30:06+00:20", "23:59:60Z",
         "15:59:60-08:00", "00:00:00z"],
        ["08:30:06", "24:00:00Z", "08:60:00Z", "08:30:61Z", "22:59:60Z",
         "8:30:06Z", "08:30:06 PST", "01:02:03+24:00"],
    ),
    "duration": (
        ["P4DT12H30M5S", "P4Y", "PT0S", "P0D", "P1M", "PT36H", "P2W",
         "P1Y2M3DT4H5M6.5S"],
        ["P", "PT", "P1YT", "1Y", "P1Y1W", "PT1D", "P2D1Y", "P1H"],
    ),
    "email": (
        ["joe.bloggs@example.com", "te~st@example.com", "~test@example.com",
         "test~@example.com", "te.s.t@example.com"],
        ["2962", ".test@example.com", "test.@example.com",
         "te..st@example.com", "joe@bloggs@example.com", "@example.com",
         "joe@"],
    ),
    "idn-email": (
        ["실례@실례.테스트", "joe.bloggs@example.com", "dévé@exemple.fr"],
        ["2962", "te..st@example.com", "a@b@c"],
    ),
    "hostname": (
        ["www.example.com", "xn--4gbwdl.xn--wgbh1c", "hostname",
         "a-b.c-d.example", "a" * 63 + ".com"],
        ["-a-host-name-that-starts-with--", "not_a_valid_host_name",
         "a-vvvvvvvvvvvvvvvveeeeeeeeeeeeeeeerrrrrrrrrrrrrrrryyyyyyyyyyyyyyyy"
         "-long-host-name-component", "host-.example", "exa mple.com", ""],
    ),
    "idn-hostname": (
        ["실례.테스트", "www.example.com", "xn--ihqwcrb4cv8a8dqg056pqjye",
         "bücher.example"],
        ["〮실례.테스트", "실〮례.테스트", "-host", "host-", "a_b.example",
         "xn--X"],
    ),
    "ipv4": (
        ["192.168.0.1", "0.0.0.0", "255.255.255.255", "127.0.0.1",
         "10.1.2.3"],
        ["127.0.0.0.1", "256.256.256.256", "127.0", "0x7f000001",
         "192.168.1.0/24", "1.2.3", "087.10.0.1"],
    ),
    "ipv6": (
        ["::1", "::", "::abef", "1:d6::42", "1::d6:192.168.0.1",
         "2001:db8:85a3::8a2e:370:7334", "fe80:0:0:0:204:61ff:fe9d:f156"],
        ["12345::", "::abcef", ":2:3:4:5:6:7:8", "1:2:3:4:5:6:7:8:9",
         "::laptop", "1.2.3.4", "1::2::3", "100:100:100:100:100:100:255.255"],
    ),
    "uuid": (
        ["2EB8AA08-AA98-11EA-B4AA-73B441D16380",
         "2eb8aa08-aa98-11ea-b4aa-73b441d16380",
         "00000000-0000-0000-0000-000000000000",
         "98d80576-482e-427f-8434-7f86890ab222"],
        ["2eb8aa08-aa98-11ea-b4aa-73b441d1638",
         "2eb8aa08aa9811eab4aa73b441d16380",
         "2eb8aa08-aa98-11ea-73b441d16380",
         "2eb8-aa08-aa98-11ea-b4aa73b44-1d16380",
         "gggggggg-aa98-11ea-b4aa-73b441d16380",
         "{2eb8aa08-aa98-11ea-b4aa-73b441d16380}"],
    ),
    "uri": (
        ["http://foo.bar/?baz=qux#quux",
         "http://foo.com/blah_(wikipedia)_blah#cite-1",
         "ftp://ftp.is.co.za/rfc/rfc1808.txt", "mailto:John.Doe@example.com",
         "urn:oasis:names:specification:docbook:dtd:xml:4.1.2",
         "tel:+1-816-555-1212"],
        ["//foo.bar/?baz=qux#quux", "/abc", "abc", "http://exa mple.com",
         "\\\\WINDOWS\\fileshare", "#fragment"],
    ),
    "iri": (
        ["http://ƒøø.ßår/?∂éœ=πîx#πîüx",
         "http://ƒøø.com/blah_(wîkïpédiå)_blah#ßité-1",
         "urn:ietf:rfc:3987", "http://[2001:db8::1]/"],
        ["/abc", "ƒøø", "http://exa mple.com", "#ƒrägmênt"],
    ),
    "uri-reference": (
        ["http://foo.bar/?baz=qux#quux", "//foo.bar/?baz=qux#quux",
         "/abc", "#fragment", "abc", ""],
        ["\\\\WINDOWS\\fileshare", "abc def", "http://exa mple.com",
         "#frag\\ment"],
    ),
    "iri-reference": (
        ["http://ƒøø.ßår/?∂éœ=πîx#πîüx", "//ƒøø.ßår/?∂éœ=πîx#πîüx",
         "/âππ", "#ƒrägmênt", "âππ"],
        ["\\\\WINDOWS\\filëßåré", "#ƒräg\\mênt", "âπ π"],
    ),
    "uri-template": (
        ["http://example.com/dictionary/{term:1}/{term}",
         "http://example.com/dictionary", "dictionary/{term:1}/{term}",
         "{+path}/here", "http://example.com{/segments*}"],
        ["http://example.com/dictionary/{term:1}/{term",
         "http://example.com/{}", "http://example.com/{a{b}}",
         "http://example.com/}x{"],
    ),
    "json-pointer": (
        ["/foo/bar~0/baz~1/%a", "/foo//bar", "/foo/bar/", "", "/", "/~0~1",
         "/foo/0", "/ "],
        ["/foo/bar~", "#", "#/", "foo", "/~2", "/foo/~", "0"],
    ),
    "relative-json-pointer": (
        ["1", "0/foo/bar", "2/0/baz/1/zip", "0#", "120/foo/bar", "0"],
        ["/foo/bar", "-1/foo/bar", "0##", "01/a", "01#", "", "1/~2"],
    ),
    "regex": (
        ["([abc])+\\s+$", "^[a-z]+$", "a{1,3}", "(?:x|y)*", "\\d+"],
        ["^(abc]", "[z-a]", "a**", "(?P<n", "*x"],
    ),
}

# where the installed checker is not an oracle: rfc3339-validator rejects
# second 60, which RFC 3339 §5.7 allows (a leap second); its email check
# only looks for an "@"
JSONSCHEMA_DEVIATES = {
    ("date-time", "1998-12-31T23:59:60Z"),
    ("time", "23:59:60Z"),
    ("time", "15:59:60-08:00"),
    *(("email", v) for v in CASES["email"][1]),
    *(("idn-email", v) for v in CASES["idn-email"][1]),
}


def _rows() -> list[tuple[str, str, bool]]:
    return [(fmt, v, want) for fmt, (good, bad) in CASES.items()
            for want, values in ((True, good), (False, bad))
            for v in values]


def test_corpus_covers_every_format():
    assert set(CASES) == set(_FORMAT_CHECKS)
    assert all(good and bad for good, bad in CASES.values())
    assert len(_rows()) >= 150


def test_interp_and_jsonschema_agree_with_the_corpus():
    checker = jsonschema.Draft202012Validator.FORMAT_CHECKER
    wrong = [f"interp {fmt}: {v!r}" for fmt, v, want in _rows()
             if bool(_FORMAT_CHECKS[fmt](v)) is not want]
    wrong += [f"jsonschema {fmt}: {v!r}" for fmt, v, want in _rows()
              if fmt in checker.checkers
              and (fmt, v) not in JSONSCHEMA_DEVIATES
              and checker.conforms(v, fmt) is not want]
    assert not wrong, "\n".join(wrong)


def test_format_predicate_matches_interp(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, "fmt string, value string, want boolean")
    pred = F.lit(None)
    for fmt in sorted(CASES):
        pred = F.when(F.col("fmt") == fmt,
                      format_predicate(fmt, F.col("value"))).otherwise(pred)
    got = df.select("fmt", "value", "want", pred.alias("ok")).collect()
    mismatches = [
        f"{r['fmt']}: {r['value']!r} spark={r['ok']} want={r['want']}"
        for r in got if r["ok"] is not r["want"]
    ]
    assert not mismatches, "\n".join(mismatches[:20])
