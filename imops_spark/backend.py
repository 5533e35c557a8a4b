"""Execution-strategy registry (API parity with the reference's backend system).

The reference (``/root/reference/imops/backend.py:7-95``) exposes a ``Backend``
class registry plus ``set_backend`` / ``imops_backend`` context manager that pick
which compiled kernel executes an operator.  In a Spark engine the equivalent
choice is *physical strategy*: express an operator as Catalyst-native DataFrame
algebra (joins/aggregates, scales horizontally) or as an Arrow-batched
``applyInPandas`` kernel over per-image blobs (single-pass NumPy, scales by
image count).  We keep the reference's API shape so callers can port unchanged:

    set_backend('join')            # force relational strategy
    with imops_backend('udf'):     # scoped override
        ...

Strategies:
- ``'join'`` — voxel-table relational plans (default for correctness tests).
- ``'udf'``  — per-image Arrow/pandas kernels over blob tables.
- ``'auto'`` — operator picks by input size (the reference's dispatch analog):
  ndarray wrappers run the vectorized kernel when the input fits comfortably
  in one task (``<= AUTO_UDF_MAX_BYTES``) and the distributed voxel-table
  plan above that (``dispatch_strategy``).

Unknown names raise ``ValueError`` like the reference's ``resolve_backend``
(`backend.py:29-48`).

Every other ``strategy='auto'`` in the package resolves here too: each
operator with two hash-identical physical forms is a row of :data:`ROUTES`
citing the A/B behind it, and :func:`choose_form` is the one resolver.
"""

from __future__ import annotations

import logging
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

__all__ = [
    "Backend",
    "BACKENDS",
    "Cython",
    "Numba",
    "Scipy",
    "AUTO_UDF_MAX_BYTES",
    "set_backend",
    "get_backend",
    "imops_backend",
    "resolve_backend",
    "dispatch_strategy",
    "Route",
    "ROUTES",
    "choose_form",
]

# 'auto' threshold: inputs at or under this take the per-image NumPy kernel
# (one Arrow task's worth of data); larger ones take the distributed plan.
# 64 MiB ~= a 256^3 float32 volume — far below executor memory, far above
# the per-task fixed overhead that dominates small inputs.
AUTO_UDF_MAX_BYTES = 64 << 20


@dataclass(frozen=True)
class Backend:
    """A named execution strategy (analog of reference ``Backend`` dataclass)."""

    name: str
    # Hints consumed by operators; partitioning analog of num_threads.
    options: dict = field(default_factory=dict)

    def __init_subclass__(cls, **kwargs):  # registry, mirrors backend.py:7-26
        super().__init_subclass__(**kwargs)
        BACKENDS[cls.__name__.lower()] = cls
        if not hasattr(Backend, cls.__name__):  # Backend.Cython etc., backend.py:13-14
            setattr(Backend, cls.__name__, cls)


BACKENDS: dict[str, type] = {}
_VALID = ("join", "udf", "auto")


@dataclass(frozen=True)
class Cython(Backend):
    """Reference drop-in (`/root/reference/imops/backend.py:86-88`): the
    compiled in-process path maps to our relational 'join' strategy.
    ``fast`` is accepted for signature parity and warns like the reference."""

    name: str = field(default="join", init=False)
    fast: bool = False


@dataclass(frozen=True)
class Numba(Backend):
    """Reference drop-in (`backend.py:70-80`): also the compiled path ->
    'join'.  The numba flags are accepted as inert hints (no numba needed —
    parallelism comes from partitioning, not JIT threads)."""

    name: str = field(default="join", init=False)
    parallel: bool = True
    nogil: bool = True
    cache: bool = True


@dataclass(frozen=True)
class Scipy(Backend):
    """Reference drop-in (`backend.py:91-93`): the fallback kernel path maps
    to our per-image Arrow 'udf' strategy."""

    name: str = field(default="udf", init=False)

_state = threading.local()


def _current() -> str:
    return getattr(_state, "backend", "auto")


def _checked(b: Backend) -> Backend:
    if isinstance(b, Cython) and b.fast:
        # parity with reference resolve_backend (backend.py:44-45)
        import warnings

        warnings.warn("`fast=True` has no effect for `Cython` backend for now.", stacklevel=3)
    return b


def resolve_backend(backend: str | Backend | None) -> Backend:
    """Normalize str/Backend/None to a Backend, raising on unknown names."""
    if backend is None:
        return Backend(_current())
    if isinstance(backend, Backend):
        return _checked(backend)
    if isinstance(backend, type) and issubclass(backend, Backend):
        return backend()  # type: ignore[call-arg]
    if isinstance(backend, str):
        name = backend.lower()
        # Accept the reference's backend names for drop-in compatibility:
        # Cython/Numba were its fast in-process kernels -> our relational path;
        # Scipy was its fallback kernel -> our per-image UDF path.
        if name in BACKENDS:
            return BACKENDS[name]()
        if name not in _VALID:
            raise ValueError(
                f"Unknown backend {backend!r}; expected one of {_VALID} "
                f"(or reference aliases Cython/Numba/Scipy)"
            )
        return Backend(name)
    raise ValueError(f"Cannot resolve backend from {backend!r}")


def dispatch_strategy(strategy: Backend, nbytes: int) -> str:
    """Concrete strategy name for an ndarray input of ``nbytes`` bytes.

    Resolves ``'auto'`` by size: the per-image vectorized kernel for inputs
    that fit one task (``nbytes <= AUTO_UDF_MAX_BYTES``), the distributed
    voxel-table plan above that.  Explicit ``'join'``/``'udf'`` pass through
    unchanged.  This is the Spark analog of the reference's backend dispatch
    (`/root/reference/imops/backend.py:29-48`): small inputs must not pay
    multi-job fixpoint latency, oversized volumes must not be forced through
    a single in-memory kernel.
    """
    return choose_form("imaging", strategy.name, nbytes=nbytes)


# ---------------------------------------------------------------------------
# The routing table: one row per operator with two physical forms
# ---------------------------------------------------------------------------

_log = logging.getLogger(__name__)


def _train_chars(df, facts) -> int | None:
    """The LM train side's parquet-footer char estimate (driver-side
    metadata, no job); ``None`` when the frame is not parquet-backed."""
    from .functions.dedup import _text_chars_estimate

    train = facts.get("train")
    return _text_chars_estimate(df if train is None else train)


def _hot_gram_tasks(df, facts) -> float:
    """The duplicate-spans heavy-hitter probe (one small sampled job): the
    hottest k-gram's estimated rows, in per-task gram budgets.  It runs
    only for ``min_docs == 2`` on a corpus whose gram exchange had to size
    up past ``spark.sql.shuffle.partitions``; below that no gram can
    dominate a task, and ``min_docs > 2`` is agg-shaped at every stage."""
    from .functions import dedup

    if facts["min_docs"] != 2:
        return 0
    default_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if facts["n_parts"] <= default_parts:
        return 0
    hot = dedup._hot_gram_rows_estimate(facts["grams"], facts["k"], facts["raw_chars"])
    return hot / dedup._GRAM_ROWS_PER_TASK


@dataclass(frozen=True)
class Route:
    """One row of :data:`ROUTES`.  ``auto`` picks ``forms[0]`` for a batch
    leaf, ``forms[1]`` when the ``size`` fact is unknown or over
    ``budget``; ``stream`` is the form for a streaming input (``None``:
    ``isStreaming`` is never read), ``composed`` the form for an md5 batch
    whose output feeds a join.  ``md5_only``: ``forms[0]`` implements only
    the md5 family.  ``batch_only``: explicit forms a stream rejects up
    front, not as a deep AnalysisException from a sizing pre-pass."""

    forms: tuple[str, str]
    stream: str | None = None
    composed: str | None = None
    md5_only: bool = False
    batch_only: tuple[str, ...] = ()
    size: Callable | None = None
    budget: int | None = None
    evidence: str = ""


ROUTES: dict[str, Route] = {
    "imaging": Route(
        ("udf", "join"), size=lambda df, facts: facts["nbytes"], budget=AUTO_UDF_MAX_BYTES,
        evidence="AUTO_UDF_MAX_BYTES above; a small auto label runs zero Spark jobs",
    ),
    "minhash": Route(
        ("arrow", "jvm"), stream="jvm", composed="jvm", md5_only=True,
        evidence="FASTPATH.md r11 s3: arrow wins the md5 leaf ~2x, loses composed "
        "once the band join is sort-merge (1.28M docs 74.1 vs 55.1 s)",
    ),
    "simhash": Route(
        ("arrow", "local"), stream="local",
        evidence="FASTPATH.md r11 SimHash kernel; local composes under stateful streams",
    ),
    "winnow": Route(
        ("arrow", "window"), stream="arrow", composed="window", batch_only=("window",),
        evidence="FASTPATH.md r8c/r10/r11: arrow wins standalone (md5 1.28M 40.7-69.3 "
        "vs 57.6-93.3 s); composed md5 loses (cur_select3 9.49 vs 5.39 s; r12 "
        "report window 2.2-4.4 vs arrow 4.7-11.1 s)",
    ),
    "duplicate_spans": Route(
        ("window", "agg"), size=_hot_gram_tasks, budget=1,
        evidence="window 17 s vs agg 36 s at 320k docs; agg is skew-safe",
    ),
    "dsir": Route(
        ("arrow", "agg"), stream="agg",
        evidence="FASTPATH.md r12: cur_dsir 1.56x; dsir_sample_df, 10 alternating "
        "pairs, sf0.1, 4 cores: arrow 2.07 s median (IQR 2.04-2.16) vs agg 2.22 "
        "(2.11-2.35), arrow ahead in 8 of 10",
    ),
    "ngram_lm": Route(
        # 64 MiB of train text: at most ~11M distinct bigrams to collect
        ("arrow", "agg"), stream="agg", size=_train_chars, budget=64 << 20,
        evidence="FASTPATH.md r12: sf0.1 arrow 1.47-1.80 vs agg 1.74-2.66 s",
    ),
}


def choose_form(
    op: str,
    strategy: str,
    df=None,
    *,
    hash_fn: str | None = None,
    composed: bool = False,
    **facts,
) -> str:
    """The form ``op`` runs for ``strategy``, ``'auto'`` resolved by its
    :data:`ROUTES` row from the input facts; an explicit form passes
    through after validation.

    ``df`` is the input frame, ``hash_fn`` its hash family, and
    ``composed=True`` marks output that feeds a join.  ``facts`` carries
    what a ``size`` reader needs: ``train`` (the LM train frame, default
    ``df``), ``grams``/``k``/``raw_chars``/``n_parts``/``min_docs`` (the
    spans probe), ``nbytes`` (imaging).  A fact is read only when it can
    change the pick, so ``auto`` adds no Spark call.  Each ``auto``
    resolution logs one DEBUG record ``(op, form, reason, facts)``.
    """
    row = ROUTES[op]
    names = ("auto", *row.forms)
    if strategy not in names:
        raise ValueError(f"{op}: strategy must be one of {names}, got {strategy!r}")
    if strategy == "auto":
        form, reason, seen = _resolve_auto(row, df, hash_fn, composed, facts)
        _log.debug("route %s -> %s (%s) %s", op, form, reason, seen)
        return form
    if row.md5_only and strategy == row.forms[0] and hash_fn != "md5":
        raise ValueError(f"{op}: strategy={strategy!r} implements the md5 family only")
    if strategy in row.batch_only and df.isStreaming:
        raise ValueError(
            f"{op}: strategy={strategy!r} is illegal on a streaming "
            f"DataFrame — use {row.stream!r} (or 'auto', which picks it)"
        )
    return strategy


def _resolve_auto(row: Route, df, hash_fn, composed, facts):
    seen = {} if hash_fn is None else {"hash_fn": hash_fn}
    if composed:
        seen["composed"] = True
    if row.md5_only and hash_fn != "md5":
        return row.forms[1], "no kernel for this hash family", seen
    batch = row.composed if composed and hash_fn == "md5" and row.composed else row.forms[0]
    if row.stream not in (None, batch):
        train = facts.get("train")
        seen["streaming"] = df.isStreaming or (train is not None and train.isStreaming)
        if seen["streaming"]:
            return row.stream, "streaming input", seen
    if batch != row.forms[0]:
        return batch, "md5 batch feeding a join", seen
    if row.size is None:
        return batch, "default form", seen
    seen.update(size=row.size(df, facts), budget=row.budget)
    if seen["size"] is None or seen["size"] > row.budget:
        return row.forms[1], "size unknown or over budget", seen
    return row.forms[0], "size within budget", seen


def set_backend(backend: str | Backend) -> None:
    _state.backend = resolve_backend(backend).name


def get_backend() -> str:
    return _current()


@contextmanager
def imops_backend(backend: str | Backend):
    """Scoped backend override (parity with reference ``imops_backend``)."""
    prev = _current()
    set_backend(backend)
    try:
        yield resolve_backend(None)
    finally:
        _state.backend = prev
