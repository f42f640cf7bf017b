"""Outside-in layer trace.

Wrappers installed from the benchmark's own files around the public
functions of each layer record spans (name, start, end, parent, op id)
and call counts in memory; `Tracer.dump` writes them as JSON when the
run ends.  Nothing inside `dl_datalake_spark` changes: a module-level
function is re-bound in every loaded module that imported it by name,
and a method is replaced on its class.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
import types
from collections import Counter

from perfbench.common import covered_seconds

# filesystem methods by the kind of work they do
FS_KINDS = {
    "read_bytes": "read",
    "listdir": "list",
    "walk_files": "list",
    "write_bytes_atomic": "mutating",
    "create_exclusive": "mutating",
    "rename": "mutating",
    "consume_rename": "mutating",
    "remove": "mutating",
    "rmtree": "mutating",
    "makedirs": "mutating",
    "touch": "mutating",
    "exists": "stat",
    "isdir": "stat",
    "getsize": "stat",
    "getmtime": "stat",
}


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op: int | str | None = None
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------------

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            tracer.counts[(tracer.op, name)] += 1
            idx = len(tracer.spans)
            span = {
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": tracer._stack[-1] if tracer._stack else None,
                "op": tracer.op,
            }
            tracer.spans.append(span)
            tracer._stack.append(idx)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, types.GeneratorType):
                    # time the walk itself, not just the generator's creation
                    out = iter(list(out))
                return out
            finally:
                tracer._stack.pop()
                span["end"] = time.time()

        return wrapper

    def patch_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        self._undo.append((cls, attr, orig))
        setattr(cls, attr, self._wrap(name, orig))

    def patch_function(self, module, attr: str, name: str) -> None:
        """Re-bind `module.attr` everywhere it was imported by name."""
        orig = getattr(module, attr)
        wrapped = self._wrap(name, orig)
        for mod in list(sys.modules.values()):
            mod_name = getattr(mod, "__name__", "") or ""
            if not mod_name.startswith("dl_datalake_spark"):
                continue
            if getattr(mod, attr, None) is orig:
                self._undo.append((mod, attr, orig))
                setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def install_layers(self) -> None:
        """Wrap the public entry points of every layer the benchmark
        reports on."""
        import dl_datalake_spark.queries  # noqa: F401  (bind tables.* users)
        from dl_datalake_spark import tables
        from dl_datalake_spark.lake import fs, snapshot
        from dl_datalake_spark.lake.commitlog import CommitLog
        from dl_datalake_spark.lake.manifest import ManifestManager
        from dl_datalake_spark.lake.reader import LakeReader
        from dl_datalake_spark.lake.writer import LakeWriter

        self.patch_method(LakeWriter, "write_ohlc", "writer.write_ohlc")
        self.patch_method(ManifestManager, "add_entries", "manifest.add_entries")
        self.patch_method(LakeReader, "read_range", "reader.read_range")
        self.patch_function(snapshot, "added_file_stats", "snapshot.added_file_stats")
        self.patch_function(snapshot, "resolve_live_files", "snapshot.listing")
        self.patch_function(snapshot, "list_data_files", "snapshot.listing")
        self.patch_function(tables, "load_table", "tables.load_table")
        for attr, obj in list(vars(CommitLog).items()):
            # `transaction` is a context manager: its call returns before
            # the guarded work runs, so a span around it would be empty
            if (
                isinstance(obj, types.FunctionType)
                and not attr.startswith("_")
                and attr != "transaction"
            ):
                self.patch_method(CommitLog, attr, "commitlog")
        for attr, kind in FS_KINDS.items():
            if attr in vars(fs.LocalFS):
                self.patch_method(fs.LocalFS, attr, f"fs.{kind}")

    # -- per-op summaries ------------------------------------------------------

    def op_spans(self, op) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def outer_ms(self, op, prefix: str) -> float:
        """Wall ms covered by spans whose name starts with `prefix`
        (nested spans of the same family count once)."""
        ivs = [(s["start"], s["end"]) for s in self.op_spans(op) if s["name"].startswith(prefix)]
        if not ivs:
            return 0.0
        return covered_seconds(ivs, min(a for a, _ in ivs), max(b for _, b in ivs)) * 1e3

    def self_ms(self, op, name: str) -> float:
        """Span time of `name` minus the part its child spans cover."""
        spans = self.op_spans(op)
        idx = {id(s): i for i, s in enumerate(self.spans)}
        total = 0.0
        for s in spans:
            if s["name"] != name:
                continue
            me = idx[id(s)]
            kids = [(c["start"], c["end"]) for c in spans if c["parent"] == me]
            total += (s["end"] - s["start"]) - covered_seconds(kids, s["start"], s["end"])
        return total * 1e3

    def intervals(self, op, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.op_spans(op) if s["name"] == name]

    def count(self, op, prefix: str) -> int:
        return sum(n for (o, name), n in self.counts.items() if o == op and name.startswith(prefix))

    def dump(self, path: str, per_op: list[dict]) -> None:
        """Write spans, call counts and each traced op's layer metrics."""
        counts = [{"op": o, "name": n, "calls": c} for (o, n), c in self.counts.items()]
        with open(path + ".tmp", "w") as f:
            json.dump({"spans": self.spans, "counts": counts, "ops": per_op}, f)
        os.replace(path + ".tmp", path)
