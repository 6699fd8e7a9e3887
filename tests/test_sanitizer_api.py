"""API-parity facade: reference-style Sanitizer class + named registry."""

from __future__ import annotations

import pytest

from html_sanitizer_spark import Sanitizer, get_sanitizer
from html_sanitizer_spark.sanitizer_api import register_sanitizer

from .golden_cases import CASES, CONFIGS, expected


def test_reference_style_usage():
    s = Sanitizer()
    assert s.sanitize("<b>Bla</b><script>x()</script>") == "<strong>Bla</strong>"
    custom = Sanitizer({"tags": ["h1", "h2"], "empty": (), "separate": (),
                        "attributes": {}})
    assert custom.sanitize("<h1>a</h1><h3>b</h3>") == "<h1>a</h1>b"


def test_constructor_contracts_match_reference():
    with pytest.raises(TypeError, match="Expected a set but got"):
        Sanitizer({"tags": "blub"})
    with pytest.raises(TypeError, match='Tags in "empty"'):
        Sanitizer({"tags": {"blub"}})


@pytest.fixture
def registry():
    """Restore the named-config registry a test registers into."""
    from html_sanitizer_spark.engine import settings

    saved = dict(settings._REGISTRY)
    yield
    settings._REGISTRY.clear()
    settings._REGISTRY.update(saved)
    settings._INSTANCES.clear()


def test_registry_roundtrip(registry):
    register_sanitizer("only_em", {"tags": {"em"}, "empty": set(),
                                   "separate": set(), "attributes": {}})
    s = get_sanitizer("only_em")
    assert s is get_sanitizer("only_em")  # memoized like lru_cache
    assert s.sanitize("<em>x</em><strong>y</strong>") == "<em>x</em>y"
    with pytest.raises(KeyError):
        get_sanitizer("nope")
    with pytest.raises(TypeError):
        register_sanitizer("bad", {"tags": "x"})


# configs.fingerprint of each named config: a checkpointed resume compares
# the digest in its manifest with the current one, so a change here makes
# every resume of a run started before it refuse
_DIGESTS = {
    "autolink": "fbcd0f7592780d8e",
    "autolink_nofollow": "6fb70570c8dcb699",
    "classes": "d499c9ff79c374ab",
    "classes_mergeable": "5394238ccf35825e",
    "default": "16d84cda9c151dd5",
    "img": "b61e63166b154ccf",
    "nofollow": "485f5def69ae9999",
    "typographic": "377aef7f4549a8bf",
}


def test_one_registry_resolves_every_named_config(registry, tmp_path, capsys):
    """Every named config, and one registered at run time, resolves the
    same through ``sanitize``, ``get_sanitizer``, ``settings_for`` and the
    engine CLI's ``--config``; the named configs' digests are pinned."""
    from html_sanitizer_spark import sanitize
    from html_sanitizer_spark.__main__ import main
    from html_sanitizer_spark.configs import (
        PIPELINE_CONFIGS,
        fingerprint,
        settings_for,
    )
    from html_sanitizer_spark.engine.settings import Settings, register_settings

    html = ('<h1 class="x">T</h1><p>see www.example.com '
            '<a href="/a" target="_blank">a</a> <img src="/i.png"></p>')
    path = tmp_path / "in.html"
    path.write_text(html)
    assert sorted(PIPELINE_CONFIGS) == sorted(_DIGESTS)
    register_settings("mine", {"tags": {"p"}, "empty": set(),
                               "separate": set(), "attributes": {}})
    outs = set()
    for name in [*_DIGESTS, "mine"]:
        want = sanitize(html, Settings(PIPELINE_CONFIGS[name]))
        assert sanitize(html, name) == want, name
        assert get_sanitizer(name).sanitize(html) == want, name
        assert sanitize(html, settings_for(name)) == want, name
        assert main(["--config", name, str(path)]) == 0
        assert capsys.readouterr().out == want + "\n", name
        outs.add(want)
    assert len(outs) > 4  # the configs do differ on this input
    assert {n: fingerprint(n) for n in _DIGESTS} == _DIGESTS


def test_facade_matches_golden_for_every_config():
    """The facade must reproduce all 112 pairs through Sanitizer objects."""
    instances = {name: Sanitizer(cfg) for name, cfg in CONFIGS.items()}
    for case in CASES:
        got = instances[case.config].sanitize(case.before)
        want = expected(case)
        if case.strip:
            got, want = got.strip(), want.strip()
        assert got == want, case.case_id


def test_facade_drives_spark(spark):
    from html_sanitizer_spark.pipeline.synth import golden_spans_df

    s = Sanitizer()
    out = s.sanitize_df(spark, golden_spans_df(spark, "default"), salt_buckets=4)
    assert out.count() > 0


CLASSY = {
    "tags": {"h1", "p", "a", "span"},
    "attributes": {"h1": ("class",), "p": ("class",), "span": ("class",),
                   "a": ("href", "name", "target", "title", "id", "rel")},
    "empty": set(),
    "separate": {"a", "p"},
}


class ClassAwareSanitizer(Sanitizer):
    """The reference's documented override point: subclass + override the
    is_mergeable staticmethod (sanitizer.py:252-258)."""

    @staticmethod
    def is_mergeable(e1, e2):
        return e1.get("class") == e2.get("class")


def test_subclass_is_mergeable_override():
    html = '<h1 class="a">x</h1><h1 class="b">y</h1>'
    merged = Sanitizer(CLASSY).sanitize(html)
    kept = ClassAwareSanitizer(CLASSY).sanitize(html)
    assert merged.count("<h1") == 1, merged
    assert kept.count("<h1") == 2, kept
    same = ClassAwareSanitizer(CLASSY).sanitize(
        '<h1 class="a">x</h1><h1 class="a">y</h1>'
    )
    assert same.count("<h1") == 1, same


def test_subclass_override_dict_still_wins():
    always = {**CLASSY, "is_mergeable": lambda e1, e2: True}
    out = ClassAwareSanitizer(always).sanitize(
        '<h1 class="a">x</h1><h1 class="b">y</h1>'
    )
    assert out.count("<h1") == 1, out


def test_subclass_override_drives_spark(spark):
    """The same subclass instance must carry its override through the
    distributed path (settings pickled into the UDF closure)."""
    df = spark.createDataFrame(
        [("d1", [{"kind": "text",
                  "text": '<h1 class="a">x</h1><h1 class="b">y</h1>',
                  "media_ref": "", "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = ClassAwareSanitizer(CLASSY).sanitize_df(spark, df, salt_buckets=2)
    text = out.collect()[0]["spans"][0]["text"]
    assert text.count("<h1") == 2, text
