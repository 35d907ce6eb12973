"""Stage framework + config-driven pipeline DAG.

Mirrors the reference's compile path (SURVEY.md section 3.1):
YAML list of operator configs -> registry lookup by ``type``
(operator/registry.go:17-57) -> per-operator build (regex/expr/layout
compilation happens HERE, at plan time — the moral equivalent of
operator/helper/transformer.go:66-72) -> implicit linear wiring (any op
without explicit ``output`` gets the next op in the list,
pipeline/config.go:64-81) -> DAG validation incl. cycle rejection
(pipeline/directed.go:134-140).

Execution model is where we diverge on purpose: instead of the
reference's push-based row-at-a-time goroutine chain
(operator/helper/writer.go:62-121), every stage *declares* a DataFrame
transformation; fan-out is free (DataFrames are immutable — no
entry.Copy() needed, entry/copy.go:20-44), fan-in is unionByName, and
Catalyst plans the whole DAG as one optimized tree per sink.

Cross-cutting semantics (SURVEY.md section 2.1) live in ColumnStage:
  - ``if`` predicate: rows failing the predicate pass through
    unchanged (transformer.go:90-99) — expressed per-column as
    ``CASE WHEN cond THEN new ELSE old END`` via null-guarded merges.
  - ``on_error: send|drop`` (transformer.go:51-59): failed rows are
    forwarded unmodified (send) or filtered out (drop).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame

from .exprs import compile_guard

# --------------------------------------------------------------------
# registry
# --------------------------------------------------------------------

_REGISTRY: dict[str, Callable[[dict], "Stage"]] = {}


def register(type_name: str):
    """Operator registration decorator — the analogue of the per-package
    init() calls feeding operator/registry.go:17-57."""

    def deco(cls):
        _REGISTRY[type_name] = cls
        cls.type_name = type_name
        return cls

    return deco


def _ensure_registered() -> None:
    """Operator modules self-register on import (the analogue of the
    reference's per-package init() calls). A user who only imports
    Pipeline/from_yaml still deserves a populated registry, so fill it
    lazily here; the import is deferred to avoid a load-time cycle
    (operator modules import this module for ``register``)."""
    from . import operators  # noqa: F401  (side-effect: registration)


def build_stage(cfg: dict[str, Any]) -> "Stage":
    cfg = dict(cfg)
    type_name = cfg.pop("type", None)
    if type_name not in _REGISTRY:
        _ensure_registered()
    if type_name not in _REGISTRY:
        raise ValueError(f"unknown operator type {type_name!r}")
    # reference YAML spells the predicate `if:` (docs/operators/*.md);
    # `if` is a Python keyword so stages take it as if_expr
    if "if" in cfg:
        cfg["if_expr"] = cfg.pop("if")
    return _REGISTRY[type_name](**cfg)


# --------------------------------------------------------------------
# stages
# --------------------------------------------------------------------


class Stage:
    """Base: a named node in the pipeline DAG."""

    type_name = "stage"

    def __init__(self, id: str | None = None, output: Any = None):
        self.id = id or self.type_name
        # output may be a string or list of stage ids
        if output is None:
            self.outputs: list[str] = []
        elif isinstance(output, str):
            self.outputs = [output]
        else:
            self.outputs = list(output)

    def apply(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    @property
    def is_sink(self) -> bool:
        return False


class ColumnStage(Stage):
    """A transformer with `if` + `on_error` semantics whose work is a
    set of column updates (null-guarded merge => unchanged row when the
    predicate is false or the parse failed).

    Every expression a column stage builds is Spark SQL text: the
    predicate from ``cond``, the error flag ``transform`` returns and
    the ``{column: text}`` update dicts of ``fields.Field``, which
    ``fields.apply_updates`` applies in one projection."""

    def __init__(
        self,
        id: str | None = None,
        output: Any = None,
        if_expr: str | None = None,
        on_error: str = "send",
        **_ignored,
    ):
        super().__init__(id, output)
        if on_error not in ("send", "drop"):
            raise ValueError(f"on_error must be send|drop, got {on_error!r}")
        self.if_expr = if_expr
        self.on_error = on_error

    def cond(self) -> str:
        """The `if` predicate as Spark SQL text."""
        if self.if_expr is None:
            return "true"
        # null predicate result counts as false, like expr.AsBool
        return compile_guard(self.if_expr)

    def transform(self, df: DataFrame, cond: str) -> tuple[DataFrame, str | None]:
        """Return (transformed df, Spark SQL text of the error flag or
        None).

        Implementations must make every update conditional on the SQL
        text ``cond`` (pass ``CASE WHEN cond THEN value END`` into the
        field setters — a null value is a merge no-op, reproducing
        pass-through-unchanged)."""
        raise NotImplementedError

    def apply(self, df: DataFrame) -> DataFrame:
        cond = self.cond()
        out, err = self.transform(df, cond)
        if err is not None and self.on_error == "drop":
            out = out.filter(f"NOT ({cond} AND coalesce({err}, false))")
        return out


# --------------------------------------------------------------------
# pipeline
# --------------------------------------------------------------------


@dataclass
class Pipeline:
    """An ordered operator list compiled into a DAG of stages.

    ``run`` returns the DataFrame at every terminal node (sinks and
    leaf operators), keyed by stage id — the driver decides what to do
    with them (write, count, collect)."""

    stages: list[Stage]
    _by_id: dict[str, Stage] = field(default_factory=dict)
    #: fan-out frames persisted by run(), released by unpersist()
    _persisted: list[DataFrame] = field(default_factory=list)

    def unpersist(self, blocking: bool = False) -> None:
        """Release every fan-out cache created by :meth:`run` — call
        after the terminal actions in long-lived drivers."""
        for df in self._persisted:
            df.unpersist(blocking)
        self._persisted.clear()

    @classmethod
    def from_configs(cls, configs: list[dict[str, Any]]) -> "Pipeline":
        stages = [build_stage(c) for c in configs]
        # dedupe ids the way pipeline/config.go:86-110 does
        seen: dict[str, int] = {}
        for s in stages:
            n = seen.get(s.id, 0)
            seen[s.id] = n + 1
            if n:
                s.id = f"{s.id}{n + 1}"
        # implicit linear wiring (pipeline/config.go:64-81)
        for i, s in enumerate(stages):
            if not s.outputs and not s.is_sink and i + 1 < len(stages):
                nxt = stages[i + 1]
                s.outputs = [nxt.id]
        p = cls(stages)
        p._by_id = {s.id: s for s in stages}
        p._validate()
        return p

    @classmethod
    def from_yaml(cls, text: str) -> "Pipeline":
        import yaml

        data = yaml.safe_load(text)
        if isinstance(data, dict) and "pipeline" in data:
            data = data["pipeline"]
        return cls.from_configs(data)

    def _targets(self, s: Stage) -> list[str]:
        outs = list(s.outputs)
        router_routes = getattr(s, "routes", None)
        if router_routes is not None:
            outs = []
            for r in router_routes:
                outs.extend(r.outputs)
            default = getattr(s, "default", None)
            if default:
                outs.extend(default)
        return outs

    def _validate(self) -> None:
        # edges must resolve; DAG must be acyclic (directed.go:134-181)
        adj: dict[str, list[str]] = {}
        for s in self.stages:
            for t in self._targets(s):
                if t not in self._by_id:
                    raise ValueError(f"stage {s.id!r} outputs to unknown {t!r}")
                adj.setdefault(s.id, []).append(t)
        state: dict[str, int] = {}

        def visit(u: str):
            st = state.get(u, 0)
            if st == 1:
                raise ValueError(f"pipeline cycle detected at {u!r}")
            if st == 2:
                return
            state[u] = 1
            for v in adj.get(u, []):
                visit(v)
            state[u] = 2

        for s in self.stages:
            visit(s.id)

    def run(self, df: DataFrame) -> dict[str, DataFrame]:
        """Evaluate the DAG. Fan-in = unionByName; fan-out = plain
        DataFrame reuse. Returns {terminal_stage_id: DataFrame}.

        The frame is persisted at every fan-out point (router with >1
        target, stage with >1 output). Two effects, both load-bearing
        at scale: (1) N sinks consume ONE parsed frame instead of
        re-deriving the whole upstream DAG per sink (the flagship's
        parse-once discipline, flagship.py:228); (2) the
        InMemoryRelation is a codegen-region boundary, so each sink
        compiles only its own route filter instead of the full
        operator chain — deep chains otherwise overflow janino's 64 KB
        method limit and silently fall back to interpreted execution.

        Every frame persisted here is tracked on the Pipeline; call
        :meth:`unpersist` after the terminal actions so long-lived
        drivers running many pipelines do not accumulate cached
        blocks (MEMORY_AND_DISK blocks live until the SparkContext
        dies otherwise)."""
        from pyspark.storagelevel import StorageLevel

        from .operators.router import RouterStage

        inputs: dict[str, list[DataFrame]] = {}
        results: dict[str, DataFrame] = {}
        first = self.stages[0]
        inputs[first.id] = [df]

        # stages are processed in list order; the implicit-wiring model
        # guarantees producers precede consumers (cycles rejected above)
        pending = list(self.stages)
        progressed = True
        while pending and progressed:
            progressed = False
            for s in list(pending):
                ins = inputs.get(s.id)
                if not ins:
                    continue
                expected = sum(
                    1
                    for other in self.stages
                    if other is not s and s.id in self._targets(other)
                )
                if s is not first and len(ins) < expected:
                    continue  # wait for all fan-in branches
                cur = ins[0]
                for extra in ins[1:]:
                    cur = cur.unionByName(extra, allowMissingColumns=True)
                if isinstance(s, RouterStage):
                    if len(set(self._targets(s))) > 1:
                        cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
                        self._persisted.append(cur)
                    routed = s.route(cur)
                    for target, branch in routed.items():
                        inputs.setdefault(target, []).append(branch)
                else:
                    out = s.apply(cur)
                    if s.outputs:
                        if len(set(s.outputs)) > 1:
                            out = out.persist(StorageLevel.MEMORY_AND_DISK)
                            self._persisted.append(out)
                        for t in s.outputs:
                            inputs.setdefault(t, []).append(out)
                    else:
                        results[s.id] = out
                pending.remove(s)
                progressed = True
        if pending:
            unreached = [s.id for s in pending if inputs.get(s.id)]
            if unreached:
                raise RuntimeError(f"pipeline stalled at {unreached}")
        return results
