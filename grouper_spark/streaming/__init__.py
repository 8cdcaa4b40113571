"""The Grouper micro-batch layer.

The in-process engine (``Grouper`` and the ``start``/``submit``/
``shutdown`` functions) needs only the standard library and is imported
eagerly. The Structured Streaming helpers live in ``.stream``, which
imports pyspark; they, and the ``stream`` submodule itself, are loaded
on first access (PEP 562), so a process that only batches items never
starts Spark's import chain.
"""

import importlib

from .grouper import Grouper, Request, shutdown, start, submit

_STREAM_EXPORTS = (
    "grouper_process_stream",
    "append_stream_file",
    "dataframe_proc_fn",
    "stage_stream_source",
    "stateful_extrema",
    "stateful_running_sum",
    "stateful_sessionize",
)

__all__ = ["Grouper", "Request", "start", "submit", "shutdown", *_STREAM_EXPORTS]


def __getattr__(name: str):
    if name == "stream" or name in _STREAM_EXPORTS:
        # import_module, not ``from . import stream``: the fromlist form
        # probes this package's attributes and would recurse into here.
        stream = importlib.import_module(".stream", __name__)
        value = stream if name == "stream" else getattr(stream, name)
        globals()[name] = value
        return value
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def __dir__() -> list[str]:
    return sorted(set(globals()) | set(__all__) | {"stream"})
