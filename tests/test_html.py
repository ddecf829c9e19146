"""HTML script extraction (api.rb:766-887 parity) — core + Spark."""

from __future__ import annotations

import json

import pytest

from json_ld_spark.core.errors import JsonLdError
from json_ld_spark.core.html import extract_jsonld

HTML = """<html><head><base href="http://ex.org/dir/">
<script type="application/ld+json">{"@id": "http://ex.org/a", "http://s.org/p": "one"}</script>
<script type="text/javascript">var x = 1;</script>
<script type="application/ld+json" id="two">[{"@id": "http://ex.org/b"}, {"@id": "http://ex.org/c"}]</script>
</head><body></body></html>"""


def test_first_script_default():
    doc, base = extract_jsonld(HTML)
    assert doc["@id"] == "http://ex.org/a"
    assert base == "http://ex.org/dir/"


def test_extract_all_concatenates():
    docs, _ = extract_jsonld(HTML, extract_all_scripts=True)
    assert [d["@id"] for d in docs] == [
        "http://ex.org/a", "http://ex.org/b", "http://ex.org/c"
    ]


def test_fragment_selects_by_id():
    doc, _ = extract_jsonld(HTML, url="http://x/page#two")
    assert isinstance(doc, list) and doc[0]["@id"] == "http://ex.org/b"


def test_fragment_wrong_type_fails():
    html = '<script type="text/javascript" id="x">1</script>'
    with pytest.raises(JsonLdError) as e:
        extract_jsonld(html, url="http://x/#x")
    assert e.value.code == "loading document failed"


def test_errors():
    with pytest.raises(JsonLdError) as e:
        extract_jsonld("<html></html>")
    assert e.value.code == "loading document failed"
    with pytest.raises(JsonLdError) as e:
        extract_jsonld('<script type="application/ld+json">{nope</script>')
    assert e.value.code == "invalid script element"


def test_detect_jsonld():
    from json_ld_spark.core.html import detect_jsonld

    assert detect_jsonld('{"@context": {"x": "http://e/"}}')
    assert detect_jsonld('\n{ "@type": "T"}')
    assert not detect_jsonld('{"plain": "json"}')
    # CSVW metadata excluded (format.rb:46)
    assert not detect_jsonld('{"@context": "http://www.w3.org/ns/csvw"}')
