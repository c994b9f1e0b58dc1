"""Directive registry.

The reference scans the classpath for ``io.cdap.directives`` classes
(``SystemDirectiveRegistry.java:51-66``) and lets users load plugin
directives via ``#pragma load-directives``. Here: a module-level dict filled
by the ``@directive`` decorator; user-defined directives (UDDs) register the
same way from any imported module. Aliases and exclusions mirror
``ConfigDirectiveContext``.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from wrangler_spark.errors import DirectiveParseError

if TYPE_CHECKING:
    from wrangler_spark.directive import Directive


class Registry:
    def __init__(self) -> None:
        self._directives: dict[str, type["Directive"]] = {}
        self._aliases: dict[str, str] = {}
        self._excluded: set[str] = set()

    def register(self, cls: type["Directive"]) -> type["Directive"]:
        if not cls.name:
            raise ValueError(f"{cls.__name__} has no name")
        self._directives[cls.name] = cls
        return cls

    def alias(self, alias: str, target: str) -> None:
        self._aliases[alias] = target

    def exclude(self, name: str) -> None:
        self._excluded.add(name)

    def get(self, name: str) -> type["Directive"]:
        name = self._aliases.get(name, name)
        if name in self._excluded:
            raise DirectiveParseError(f"directive '{name}' is excluded in this context")
        cls = self._directives.get(name)
        if cls is None:
            hint = ""
            close = [n for n in self._directives if n.startswith(name.split("-")[0])]
            if close:
                hint = f" (did you mean: {', '.join(sorted(close)[:5])}?)"
            raise DirectiveParseError(f"unknown directive '{name}'{hint}")
        return cls

    def names(self) -> list[str]:
        return sorted(self._directives)


registry = Registry()


def directive(cls: type["Directive"]) -> type["Directive"]:
    """Class decorator: register a directive implementation."""
    return registry.register(cls)


def load_builtins() -> None:
    """Import all builtin directive modules (idempotent)."""
    import wrangler_spark.directives  # noqa: F401

