"""Recipe → compiled pipeline → DataFrame plan.

The engine's spine. ``Pipeline.compile`` runs the front-end (parse +
bind — parity with ``GrammarBasedParser.parse``,
``wrangler-core/.../parser/GrammarBasedParser.java:74-128``) once on the
driver; ``transform`` folds the bound directives over a DataFrame to build
ONE lazy plan, which Catalyst then optimizes as a whole. The reference's
row-at-a-time executor loop (``RecipePipelineExecutor.java:113-156``)
has no equivalent here on purpose.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from wrangler_spark.context import CompileContext
from wrangler_spark.directive import Directive, bind_arguments
from wrangler_spark.errors import DirectiveApplyError, PipelineAbortError
from wrangler_spark.parser.recipe_parser import parse_recipe, parse_statement
from wrangler_spark.registry import Registry, load_builtins, registry as default_registry


@dataclass
class PipelineResult:
    """Outcome of compiling a recipe against a DataFrame.

    ``df`` — the clean output rows (lazy).
    ``errors()`` — the error side-channel (lazy; parity with
    ``RecipePipeline.errors()``).
    ``check()`` — evaluate any ``fail`` directives (raises on match).
    """

    df: DataFrame
    ctx: CompileContext

    def errors(self) -> DataFrame:
        e = self.ctx.errors_df()
        if e is None:
            # imported here: importing the package must not load datapipe
            from wrangler_spark.datapipe._local import empty_table

            return empty_table(self.df.sparkSession, "record string, directive string, message string")
        return e

    def check(self) -> None:
        for fc in self.ctx.fail_checks:
            n = fc.df.filter(fc.condition).limit(1).count()
            if n > 0:
                raise PipelineAbortError(
                    f"fail: condition matched at directive '{fc.directive}': {fc.message}"
                )

    def variable(self, name: str):
        """Final value of an increment-variable counter. Available after an
        action has run on ``df`` (Observation semantics); raises KeyError
        for unknown variables."""
        obs = self.ctx.observations[name]
        return obs.get[name]


def _bind(reg: Registry, stmt: str, line_no: int) -> Directive:
    """One recipe statement parsed, looked up and bound to its directive."""
    call = parse_statement(stmt, line_no)
    dcls = reg.get(call.name)
    return dcls(bind_arguments(call.name, dcls.usage, call.args), call)


class Pipeline:
    """A compiled recipe: an ordered list of bound directive objects."""

    # compiled-recipe cache (parity: the reference's 1024-entry JEXL
    # compile cache, EL.java:57-65); directives are stateless so reuse
    # across transforms is safe. Only default-registry compiles cache.
    _CACHE: dict[tuple[str, str | None], "Pipeline"] = {}
    _CACHE_MAX = 1024

    def __init__(self, directives: list[Directive], pragmas: dict[str, list[str]] | None = None):
        self.directives = directives
        self.pragmas = pragmas or {}

    @classmethod
    def compile(
        cls,
        recipe: str | list[str],
        registry: Registry | None = None,
        precondition: str | None = None,
    ) -> "Pipeline":
        """Parse + bind a recipe. V1 statements are auto-migrated to V2 on
        bind failure (parity: the reference always runs MigrateToV2 first,
        ``parser/MigrateToV2.java:68``). ``precondition`` is a JEXL filter
        applied before the recipe (``wrangler-transform/.../Precondition.java``:
        record is SKIPPED when the expression is true)."""
        from wrangler_spark.errors import DirectiveParseError, RecipeSyntaxError
        from wrangler_spark.parser.migrate import migrate_statement
        from wrangler_spark.parser.recipe_parser import split_statements

        load_builtins()
        reg = registry or default_registry
        if isinstance(recipe, (list, tuple)):
            recipe = "\n".join(recipe)

        cacheable = registry is None
        if cacheable:
            hit = cls._CACHE.get((recipe, precondition))
            if hit is not None:
                return hit

        bound: list[Directive] = []
        pragmas: dict[str, list[str]] = {}
        for stmt, line_no in split_statements(recipe):
            if stmt.startswith("#pragma"):
                parts = stmt[len("#pragma"):].strip().split(None, 1)
                if parts:
                    vals = [v.strip() for v in (parts[1].split(",") if len(parts) > 1 else [])]
                    pragmas.setdefault(parts[0], []).extend(v for v in vals if v)
                continue
            if stmt.startswith("#"):
                continue
            try:
                bound.append(_bind(reg, stmt, line_no))
            except (DirectiveParseError, RecipeSyntaxError):
                migrated = migrate_statement(stmt)
                if migrated is None:
                    raise
                bound.append(_bind(reg, migrated, line_no))
        p = cls(bound, pragmas)
        p.precondition = precondition
        if cacheable:
            if len(cls._CACHE) >= cls._CACHE_MAX:
                cls._CACHE.clear()
            cls._CACHE[(recipe, precondition)] = p
        return p

    precondition: str | None = None

    def transform(self, df: DataFrame, ctx: CompileContext | None = None) -> PipelineResult:
        ctx = ctx or CompileContext()
        if self.precondition:
            from wrangler_spark.expression import compile_condition, cond_not_true

            df = df.filter(cond_not_true(compile_condition(self.precondition, df)))
        for d in self.directives:
            try:
                df = d.apply(ctx, df)
            except DirectiveApplyError as e:
                raise DirectiveApplyError(f"{d.name}: {e}") from e
        return PipelineResult(df, ctx)

    def apply(self, df: DataFrame) -> DataFrame:
        """Convenience: clean output only."""
        return self.transform(df).df

    def lineage(self) -> list[dict]:
        """Ordered field-level lineage, one record per directive (parity:
        ``Wrangler.prepareRun`` emitting each directive's Mutation)."""
        return [d.lineage() for d in self.directives]
