"""Named sanitizer config registry for pipelines.

The reference resolves named configs from Django settings
(django.py:10-22); here a plain registry ships the reference test-suite's
config variants so jobs (and the Tier 1 Spark replay) can select them by
name. All callables are module-level → pickle-safe for UDF closures.
"""

from __future__ import annotations

import hashlib

from .engine.settings import Settings

__all__ = ["PIPELINE_CONFIGS", "fingerprint", "settings_for"]


def mergeable_by_class(e1, e2):
    """is_mergeable variant honoring class equality (tests.py:305)."""
    return e1.get("class") == e2.get("class")


_CLASSY_TAGS = {
    "tags": {"h1", "h2", "p", "a", "span"},
    "attributes": {
        "a": ("href", "name", "target", "title", "id", "rel"),
        "h1": ("class",),
        "p": ("class",),
        "span": ("class",),
    },
    "empty": set(),
    "separate": {"a", "p"},
}

PIPELINE_CONFIGS: dict[str, dict] = {
    "default": {},
    "nofollow": {"add_nofollow": True},
    "autolink": {"autolink": True},
    "autolink_nofollow": {"autolink": True, "add_nofollow": True},
    "classes": dict(_CLASSY_TAGS),
    "classes_mergeable": {**_CLASSY_TAGS, "is_mergeable": mergeable_by_class},
    "typographic": {"keep_typographic_whitespace": True},
    "img": {
        "tags": {"p", "img"},
        "empty": {"img"},
        "separate": (),
        "attributes": {"img": {"alt", "src"}},
    },
}

_CACHE: dict[str, Settings] = {}


def settings_for(name_or_settings) -> Settings:
    if isinstance(name_or_settings, Settings):
        return name_or_settings
    name = name_or_settings or "default"
    if name not in _CACHE:
        if name not in PIPELINE_CONFIGS:
            raise KeyError(
                f"Unknown pipeline config {name!r}; known: {sorted(PIPELINE_CONFIGS)}"
            )
        _CACHE[name] = Settings(PIPELINE_CONFIGS[name])
    return _CACHE[name]


def fingerprint(settings) -> str:
    """Content hash of a config, identical in every process.

    cloudpickle (the serializer Spark ships UDF closures with) hashes hooks
    by their code, so two configs that differ only in a ``sanitize_href``
    lambda get different digests. Set-valued fields are sorted first:
    a pickled set's byte order follows ``PYTHONHASHSEED``. A hook's code
    includes its source file and line, so a reinstalled or edited package
    may hash differently; a checkpointed resume then refuses, which is the
    safe direction."""
    from pyspark import cloudpickle

    state = {
        k: sorted(v) if isinstance(v, set) else v
        for k, v in settings_for(settings).__getstate__().items()
    }
    state["attributes"] = {
        tag: sorted(allowed) for tag, allowed in sorted(state["attributes"].items())
    }
    return hashlib.sha256(cloudpickle.dumps(state)).hexdigest()[:16]
