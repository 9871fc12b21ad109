"""Signature-keyed registry for config-declared operations.

Each operation (a transform op, a DQ check type) is ONE decorated builder
function. Its keyword-only parameters are the operation's option keys,
and a parameter without a default is a required key. Its positional
parameters name the runtime context it needs (``df``, ``schema``,
``spark``), supplied by the caller, never by config.

Load-time validation (:meth:`Registry.bind`) and dispatch
(:meth:`Registry.call`) run the same normalize-then-bind step, so a spec
that validates is exactly a spec that dispatches:

- normalize rebuilds mapping-valued options that config loading may
  deliver as dotted keys (``winnow.k: 5`` -> ``winnow: {k: 5}``), for
  the keys the builder declares as ``mappings``;
- bind maps an unknown name, an unknown key or a missing required key to
  a :class:`ConfigError` naming the valid set.
"""

from __future__ import annotations

import inspect
from dataclasses import dataclass
from typing import Callable

from lakehouse_ingestion_spark.errors import ConfigError


@dataclass(frozen=True)
class Entry:
    fn: Callable
    context: tuple[str, ...]
    keys: frozenset[str]
    required: frozenset[str]
    mappings: tuple[str, ...]


class Registry:
    def __init__(self, noun: str, kind: str, context: tuple[str, ...]):
        self.noun = noun  # "transform", "DQ check"
        self.kind = kind  # "op", "type"
        self.context = context  # context names callers supply
        self._entries: dict[str, Entry] = {}

    def register(self, name: str, *, mappings: tuple[str, ...] = ()):
        """Decorator declaring ``fn`` as the builder for ``name``."""

        def deco(fn: Callable) -> Callable:
            params = inspect.signature(fn).parameters.values()
            kw = {p.name: p for p in params if p.kind is p.KEYWORD_ONLY}
            context = tuple(
                p.name for p in params
                if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
            )
            assert name not in self._entries, f"duplicate {self.noun} {name!r}"
            assert set(context) <= set(self.context), (name, context)
            assert set(mappings) <= set(kw), (name, mappings)
            self._entries[name] = Entry(
                fn,
                context,
                frozenset(kw),
                frozenset(k for k, p in kw.items() if p.default is p.empty),
                tuple(mappings),
            )
            return fn

        return deco

    def names(self) -> list[str]:
        return sorted(self._entries)

    def _entry(self, name: str) -> Entry:
        entry = self._entries.get(name)
        if entry is None:
            raise ConfigError(
                f"unknown {self.noun} {self.kind}: {name!r}; known "
                f"{self.kind}s: {self.names()}"
            )
        return entry

    def bind(self, name: str, options: dict) -> tuple[Entry, dict]:
        """Normalized keyword arguments for ``name``'s builder, or
        ConfigError naming the valid keys."""
        entry = self._entry(name)
        out = dict(options)
        for key in entry.mappings:
            pref = key + "."
            dotted = [k for k in out if k.startswith(pref)]
            if dotted and key not in out:
                out[key] = {k[len(pref):]: out.pop(k) for k in dotted}
        valid = f"valid keys: {sorted(entry.keys)}"
        unknown = sorted(k for k in out if k not in entry.keys)
        if unknown:
            raise ConfigError(
                f"unknown option(s) {unknown} for {self.noun} '{name}'; {valid}"
            )
        missing = sorted(entry.required - set(out))
        if missing:
            raise ConfigError(
                f"missing required option(s) {missing} for {self.noun} "
                f"'{name}'; {valid}"
            )
        return entry, out

    def call(self, name: str, options: dict, **context):
        entry, kwargs = self.bind(name, options)
        return entry.fn(*(context[c] for c in entry.context), **kwargs)
