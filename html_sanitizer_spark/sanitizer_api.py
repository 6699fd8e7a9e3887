"""Drop-in API facade matching the reference's public surface.

A user of ``html_sanitizer`` (reference: sanitizer.py:202-260, django.py:10-22)
can switch imports and keep their code:

    from html_sanitizer_spark import Sanitizer
    Sanitizer({"tags": {"h1", "h2"}, ...}).sanitize(html)

    from html_sanitizer_spark.sanitizer_api import get_sanitizer
    get_sanitizer("default").sanitize(html)

Same settings keys, same coercion and TypeError contracts (delegated to
:class:`~html_sanitizer_spark.engine.settings.Settings`), same semantics
(112/112 golden pairs). The instance is pickle-safe, so the *same object*
also drives the distributed path via :meth:`sanitize_df`.
"""

from __future__ import annotations

import functools

from .engine.core import sanitize as _sanitize_core
from .engine.settings import Settings, get_settings, register_settings

__all__ = ["Sanitizer", "get_sanitizer", "register_sanitizer"]


class Sanitizer:
    def __init__(self, settings: dict | None = None):
        self.settings = Settings(settings)
        # reference-compatible override point (sanitizer.py:252-258): a
        # subclass that overrides the is_mergeable staticmethod gets its
        # override injected into the Settings the engine consults. An
        # explicit settings["is_mergeable"] still wins (the dict form this
        # facade has always honored).
        if (
            (settings is None or "is_mergeable" not in settings)
            and type(self).is_mergeable is not Sanitizer.is_mergeable
        ):
            self.settings.is_mergeable = type(self).is_mergeable

    @staticmethod
    def is_mergeable(e1, e2) -> bool:
        """Decide if adjacent same-tag elements e1/e2 merge; override in a
        subclass to honor distinct classes etc. (reference
        sanitizer.py:252-258)."""
        return True

    def sanitize(self, html: str) -> str:
        """One fragment in, one sanitized fragment out (sanitizer.py:260)."""
        return _sanitize_core(html, self.settings)

    def sanitize_df(self, spark, df, **kwargs):
        """The Spark-native surface the reference never had: sanitize every
        text-kind span of a (doc_id, spans) DataFrame."""
        from .pipeline.job import sanitize_spans

        return sanitize_spans(spark, df, settings=self.settings, **kwargs)


def register_sanitizer(name: str, settings: dict) -> None:
    """Named-config registration (the HTML_SANITIZERS dict analog,
    django.py:10-19) into the one registry, engine/settings.py's;
    validates eagerly like the Django system check."""
    register_settings(name, settings)


def get_sanitizer(name: str = "default") -> Sanitizer:
    """Memoized lookup (the lru_cache analog, django.py:22): one facade per
    registered config."""
    return _facade(get_settings(name))


@functools.lru_cache(maxsize=None)
def _facade(settings: Settings) -> Sanitizer:
    # keyed by the registry's memoized Settings instance, so re-registering
    # a name gives a new facade
    sanitizer = Sanitizer.__new__(Sanitizer)
    sanitizer.settings = settings
    return sanitizer
