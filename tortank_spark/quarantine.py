"""The one page-failure contract: no single page may fail a job
(SURVEY.md §7, hard part 5). A per-document body may raise; ``attempt``
turns what it raises into a ``Quarantine`` (a reason from the closed
``REASONS`` set, plus free-text detail), which ``extract.doc_stage``
writes onto the page's row."""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from contextlib import contextmanager

REASONS = ("parse_error", "nesting_too_deep", "too_large", "no_markup",
           "bad_encoding", "internal_error")

# per-page byte budget, checked before any parse: it bounds the heap a
# page takes and the Arrow batch it fills
MAX_PAGE_BYTES = 8 << 20


class Quarantine(Exception):
    """A failed page: ``reason`` in ``REASONS``, message = detail."""

    def __init__(self, reason: str, detail: str):
        assert reason in REASONS, reason
        super().__init__(detail)
        self.reason = reason

    @property
    def detail(self) -> str:
        return str(self)


def classify(exc: Exception) -> Quarantine:
    """The one map from an exception to a quarantine reason."""
    from .grammar.turtle import DocError, _Backtrack  # imports this module

    if isinstance(exc, Quarantine):
        return exc
    if isinstance(exc, RecursionError):
        return Quarantine("nesting_too_deep", "nesting too deep")
    if isinstance(exc, UnicodeError):
        return Quarantine("bad_encoding", str(exc))
    if isinstance(exc, json.JSONDecodeError):
        return Quarantine("parse_error", f"invalid JSON: {exc}")
    # CoercionError and the JSON-LD expander's errors are ValueErrors;
    # a _Backtrack that escapes the grammar carries no message
    if isinstance(exc, (DocError, _Backtrack, ValueError)):
        return Quarantine("parse_error", str(exc) or "parse error")
    return Quarantine("internal_error", f"{type(exc).__name__}: {exc}")


def attempt(body: Callable[..., list], *args, **kwargs
            ) -> tuple[list, Quarantine | None]:
    """``(body(*args, **kwargs), None)``, or ``([], its Quarantine)``."""
    try:
        return body(*args, **kwargs), None
    except Exception as exc:
        return [], classify(exc)


def never_raising(body: Callable[..., list]) -> Callable[..., tuple]:
    """``body`` as a function returning ``(rows, None)``, or ``([],
    detail)`` where ``body`` raises."""
    def call(*args, **kwargs):
        rows, q = attempt(body, *args, **kwargs)
        return rows, q and q.detail
    return call


@contextmanager
def within(where: str) -> Iterator[None]:
    """What the block raises leaves it as a Quarantine of the same
    reason, its detail prefixed with ``where``."""
    try:
        yield
    except Exception as exc:
        q = classify(exc)
        raise Quarantine(q.reason, f"{where}: {q.detail}") from exc
