"""The loop kernel of the iterative graph operators (operators/graph.py
and ``connected_components`` in operators/dedup.py).

It owns the two decisions every loop used to make for itself:

* **Exhaustion** — :func:`converge` runs ``state, changed = step(state)``
  until a round changes nothing. ``max_iter`` rounds may change
  something; one more call is the exhaustion probe, and only a probe
  round that still changes something raises. So a result that became
  final in round ``max_iter`` is returned, and a truncated one never is.
  The probe runs only when ``max_iter`` is exhausted.
* **Release** — :func:`released` unpersists the frames a loop persisted
  on every exit path, raises included, so no cached frame outlives the
  operator call in Spark's cache manager. This is safe on return because
  each operator's result reads checkpointed blocks, not those frames.

The kernel runs no Spark job of its own: ``step`` does all the work.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator, TypeVar

from pyspark.sql import DataFrame

S = TypeVar("S")


def converge(
    step: Callable[[S], tuple[S, int]], state: S, max_iter: int, what: str
) -> S:
    """Run ``state, changed = step(state)`` until ``changed == 0`` and
    return that state. Makes at most ``max_iter + 1`` calls; raises
    RuntimeError (message starts with ``what``) if the last one still
    changed something."""
    for _ in range(max_iter + 1):
        state, changed = step(state)
        if changed == 0:
            return state
    raise RuntimeError(
        f"{what} after {max_iter} rounds; the result would be truncated. "
        "Re-run with a larger max_iter."
    )


@contextmanager
def released(*frames: DataFrame) -> Iterator[None]:
    """Unpersist ``frames`` when the block exits, however it exits."""
    try:
        yield
    finally:
        for frame in frames:
            frame.unpersist()
