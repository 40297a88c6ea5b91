"""Run ``omim_spark.cli.main`` with spans around the build's layers.

Usage: python traced_cli.py {layers,session} SPANS_JSON CLI_ARG...

In ``session`` mode only ``session.get_spark`` is wrapped, so the run
records when its Spark session is up and is otherwise untraced.  In
``layers`` mode every public function of the layers in ``LAYERS`` is
wrapped in a span that records its wall-clock interval.  Inside a span
the Spark job group is set to the span's id, so the event log
attributes each job (and through it each stage and task) to the
innermost open span.  A call into a layer that is already open (a
layer function calling another function of the same layer) adds no
second span.  Writer spans also record the size of the file they
wrote.  The spans are written to SPANS_JSON as a list of ``{id, layer,
parent, t0, t1, bytes_out}`` with epoch-second times.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import time

# layer name -> (module, function names or None for every public one)
LAYERS = {
    "session.get_spark": ("omim_spark.session", ["get_spark"]),
    "pipeline.build_graph": ("omim_spark.pipeline", ["build_graph"]),
    "io.readers": ("omim_spark.io.readers", None),
    "parse": ("omim_spark.parse", None),
    "entries.transform_entries": ("omim_spark.entries", ["transform_entries"]),
    "associations": ("omim_spark.associations", None),
    "triples": ("omim_spark.triples", None),
    "queries": ("omim_spark.queries", None),
    "operators.checkpoint.cut_lineage": (
        "omim_spark.operators.checkpoint", ["cut_lineage"]),
    "io.writers.write_ttl": ("omim_spark.io.writers", ["write_ttl"]),
    "io.artifacts.write_obograph_json": (
        "omim_spark.io.artifacts", ["write_obograph_json"]),
    "io.artifacts.write_sssom_tsv": ("omim_spark.io.artifacts", ["write_sssom_tsv"]),
    "io.writers.write_tsv": ("omim_spark.io.writers", ["write_tsv"]),
}
WRITERS = {n for n in LAYERS if n.startswith("io.") and ".write_" in n}


def _set_group(span: dict | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return
    if span is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(span["id"], span["layer"])


class Tracer:
    def __init__(self, layers: dict) -> None:
        self.layers = layers
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if any(s["layer"] == layer for s in self._stack):
                return fn(*args, **kwargs)
            span = {
                "id": f"span{len(self.spans)}",
                "layer": layer,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "t0": time.time(),
                "t1": None,
                "bytes_out": 0,
            }
            self.spans.append(span)
            self._stack.append(span)
            _set_group(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span["t1"] = time.time()
                self._stack.pop()
                _set_group(self._stack[-1] if self._stack else None)
                if layer in WRITERS:
                    path = kwargs.get("path", args[1] if len(args) > 1 else None)
                    if path and os.path.exists(path):
                        span["bytes_out"] = os.path.getsize(path)

        return traced

    def install(self) -> None:
        """Wrap every layer function and rebind each name that refers
        to it in the already-imported omim_spark modules (``from x
        import f`` copies the binding, so patching the defining module
        alone is not enough)."""
        import omim_spark.cli  # noqa: F401  (imports every traced module)

        wrapped: dict[int, object] = {}
        for layer, (modname, names) in self.layers.items():
            mod = importlib.import_module(modname)
            if names is None:
                names = [
                    n for n, f in vars(mod).items()
                    if inspect.isfunction(f)
                    and f.__module__ == modname
                    and not n.startswith("_")
                ]
            for n in names:
                fn = getattr(mod, n)
                wrapped[id(fn)] = self.wrap(layer, fn)
        for modname, mod in list(sys.modules.items()):
            if modname != "omim_spark" and not modname.startswith("omim_spark."):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped and inspect.isfunction(val):
                    setattr(mod, attr, wrapped[id(val)])


def main() -> None:
    mode, out_path, cli_args = sys.argv[1], sys.argv[2], sys.argv[3:]
    if mode not in ("layers", "session"):
        sys.exit(f"traced_cli: unknown mode {mode!r}")
    tracer = Tracer(
        LAYERS if mode == "layers"
        else {"session.get_spark": LAYERS["session.get_spark"]}
    )
    tracer.install()
    from omim_spark import cli

    try:
        cli.main(cli_args)
    finally:
        with open(out_path, "w") as f:
            json.dump(tracer.spans, f)


if __name__ == "__main__":
    main()
