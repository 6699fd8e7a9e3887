"""Sanitizer configuration model.

Reproduces the settings semantics of the reference engine
(``/root/reference/html_sanitizer/sanitizer.py:153-258`` — DEFAULT_SETTINGS,
``coerce_to_set``, constructor validation) and the named-config registry of
``django.py:10-22`` as a plain dict registry (no Django).

The Settings object is small and pickle-safe so it can be captured in a
pandas-UDF closure and shipped to every executor once (broadcast-by-closure).
Compiled regexes are rebuilt lazily per process (they don't pickle), which
gives the per-executor memoization the reference gets from ``lru_cache``.
"""

from __future__ import annotations

import re
import unicodedata

__all__ = [
    "Settings",
    "DEFAULTS",
    "get_settings",
    "register_settings",
    "sanitize_href",
    "TYPOGRAPHIC_WHITESPACE",
]


def sanitize_href(href: str) -> str:
    """Default href policy — keep only clearly-benign protocols.

    Reference: sanitizer.py:12-21.
    """
    if href.startswith(("/", "mailto:", "http:", "https:", "#", "tel:")):
        return href
    return "#"


# The 15 named typographic space codepoints preserved under
# keep_typographic_whitespace. Reference: sanitizer.py:24-44.
_TYPO_NAMES = (
    "NO-BREAK SPACE",
    "EN QUAD",
    "EM QUAD",
    "EN SPACE",
    "EM SPACE",
    "THREE-PER-EM SPACE",
    "FOUR-PER-EM SPACE",
    "SIX-PER-EM SPACE",
    "FIGURE SPACE",
    "PUNCTUATION SPACE",
    "THIN SPACE",
    "HAIR SPACE",
    "NARROW NO-BREAK SPACE",
    "MEDIUM MATHEMATICAL SPACE",
    "IDEOGRAPHIC SPACE",
)

TYPOGRAPHIC_WHITESPACE = "".join(sorted({unicodedata.lookup(n) for n in _TYPO_NAMES}))


def _as_set(value) -> set:
    """Coerce sets/lists/tuples to set; reject anything else — including
    frozenset, which the reference's isinstance(value, set) check rejects.

    Reference: sanitizer.py:194-199 (same TypeError message shape and same
    accepted types, asserted by tests.py:598-603).
    """
    if isinstance(value, set):
        return set(value)
    if isinstance(value, (tuple, list)):
        return set(value)
    raise TypeError(f"Expected a set but got value {value!r} of type {type(value)}")


class Settings:
    """Validated, frozen-ish sanitizer configuration.

    Mirrors the reference's ``Sanitizer.__init__`` (sanitizer.py:202-250):
    defaults merged with overrides, iterables coerced to sets, then
    cross-validated with the same TypeError contracts.
    """

    __slots__ = (
        "tags",
        "attributes",
        "empty",
        "separate",
        "whitespace",
        "keep_typographic_whitespace",
        "add_nofollow",
        "autolink",
        "sanitize_href",
        "element_preprocessors",
        "element_postprocessors",
        "is_mergeable",
        "_ws_re",
        "_only_ws_re",
    )

    def __init__(self, overrides: dict | None = None):
        from . import processors  # local import to avoid cycle

        merged = dict(_defaults())
        merged.update(overrides or {})

        self.tags = _as_set(merged["tags"])
        self.empty = _as_set(merged["empty"])
        self.separate = _as_set(merged["separate"])
        self.whitespace = _as_set(merged["whitespace"])
        self.attributes = {
            tag: _as_set(allowed) for tag, allowed in merged["attributes"].items()
        }
        self.keep_typographic_whitespace = bool(merged["keep_typographic_whitespace"])
        self.add_nofollow = merged["add_nofollow"]
        self.autolink = merged["autolink"]
        self.sanitize_href = merged["sanitize_href"]
        self.element_preprocessors = list(merged["element_preprocessors"])
        self.element_postprocessors = list(merged["element_postprocessors"])
        self.is_mergeable = merged.get("is_mergeable") or (lambda e1, e2: True)
        self._ws_re = None
        self._only_ws_re = None

        # --- validation (sanitizer.py:226-250) ---
        if not self.tags:
            raise TypeError(
                "Empty list of allowed tags is not supported. If you really do"
                " not want to allow any tags pass a made-up tag name which will"
                " never exist in your document."
            )
        if not self.tags.issuperset(self.empty):
            raise TypeError(
                f'Tags in "empty", but not allowed: {self.empty - self.tags!r}'
            )
        if not self.tags.issuperset(self.separate):
            raise TypeError(
                f'Tags in "separate", but not allowed: {self.separate - self.tags!r}'
            )
        if not self.tags.issuperset(self.attributes.keys()):
            raise TypeError(
                f'Tags in "attributes", but not allowed: '
                f"{set(self.attributes.keys()) - self.tags!r}"
            )
        anchor_attrs = self.attributes.get("a", ())
        if "target" in anchor_attrs and "rel" not in anchor_attrs:
            raise TypeError(
                'Always allow "rel" when allowing "target" as anchor attribute'
            )

    # Regexes are process-local (rebuilt after unpickling on executors).
    # Reference analog: sanitizer.py:217-223.
    @property
    def whitespace_re(self):
        if self._ws_re is None:
            self._ws_re = re.compile(self._ws_class() + "+")
        return self._ws_re

    @property
    def only_whitespace_re(self):
        if self._only_ws_re is None:
            self._only_ws_re = re.compile("^" + self._ws_class() + "*$")
        return self._only_ws_re

    def _ws_class(self) -> str:
        if self.keep_typographic_whitespace:
            return "[^\\S%s]" % TYPOGRAPHIC_WHITESPACE
        return "\\s"

    def __getstate__(self):
        return {
            k: getattr(self, k)
            for k in self.__slots__
            if k not in ("_ws_re", "_only_ws_re")
        }

    def __setstate__(self, state):
        for k, v in state.items():
            object.__setattr__(self, k, v)
        self._ws_re = None
        self._only_ws_re = None


def _defaults() -> dict:
    """Default settings. Reference: sanitizer.py:153-191."""
    from . import processors

    return {
        "tags": {
            "a", "h1", "h2", "h3", "strong", "em", "p",
            "ul", "ol", "li", "br", "sub", "sup", "hr",
        },
        "attributes": {"a": ("href", "name", "target", "title", "rel")},
        "empty": {"hr", "a", "br"},
        "separate": {"a", "p", "li"},
        "whitespace": {"br"},
        "keep_typographic_whitespace": False,
        "add_nofollow": False,
        "autolink": False,
        "sanitize_href": sanitize_href,
        "element_preprocessors": [
            processors.bold_span_to_strong,
            processors.italic_span_to_em,
            processors.tag_replacer("b", "strong"),
            processors.tag_replacer("i", "em"),
            processors.tag_replacer("form", "p"),
            processors.target_blank_noopener,
            processors.anchor_id_to_name,
        ],
        "element_postprocessors": [],
    }


DEFAULTS = _defaults


# ---------------------------------------------------------------------------
# Named-config registry (django.py:10-22 analog, no Django).
# Settings instances are memoized per process — the executor-side analog of
# the reference's lru_cache on get_sanitizer.
# ---------------------------------------------------------------------------

_REGISTRY: dict[str, dict] = {"default": {}}
_INSTANCES: dict[str, Settings] = {}


def register_settings(name: str, overrides: dict) -> None:
    """Register a named config; validates eagerly (fail fast at the driver,
    mirroring the Django system-check in django.py:25-40)."""
    Settings(overrides)  # raises TypeError on bad config
    _REGISTRY[name] = overrides
    _INSTANCES.pop(name, None)


def get_settings(name: str = "default") -> Settings:
    if name not in _REGISTRY:
        raise KeyError(
            f"Unknown sanitizer config {name!r}; registered: {sorted(_REGISTRY)}"
        )
    if name not in _INSTANCES:
        _INSTANCES[name] = Settings(_REGISTRY[name])
    return _INSTANCES[name]
