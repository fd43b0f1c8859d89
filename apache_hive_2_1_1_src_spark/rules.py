"""The dispatch table behind ``HiveEngine.sql``.

Hive's Driver hands a statement's AST to the one analyzer that
``SemanticAnalyzerFactory`` picks for its token.  ``HiveEngine`` works on
SQL text instead: ``_run_statement`` walks one ordered ``Table`` of named
rules, and each rule either answers the statement (returns a DataFrame),
rewrites its text for the rules after it, or passes (None).  The class
body adds its rules in the order it defines them, in three shapes:

* ``@_RULES.statement(pattern)``: a handler ``fn(self, m)`` for text the
  compiled pattern matches at its start;
* ``_RULES.rewrite(name, pattern, repl)``: ``(pattern, replacement)``
  applied outside string literals and comments
  (``sqltext.sub_outside_quotes``);
* ``@_RULES.step``: any ``fn(self, text)``.

``HITS`` counts, per process, every rule that answered or changed the
text, every error retry that answered and every post-write hook that
acted; ``scripts/rule_hits.py`` reports it.
"""

from __future__ import annotations

import re
from collections import Counter

from apache_hive_2_1_1_src_spark.sqltext import sub_outside_quotes

#: rule/retry/hook name -> times it fired in this process
HITS: Counter = Counter()


def name(fn) -> str:
    """A handler's rule, retry or hook name: ``_rule_set_var`` is
    ``set_var``."""
    fn = getattr(fn, "__func__", fn)
    return fn.__name__.lstrip("_").removeprefix("rule_")


class Table(list):
    """``(name, kind, fn(engine, text))`` in the order rules were added;
    a name added twice raises.  The decorators return the handler
    unchanged, so it stays an ordinary method."""

    def add(self, rule_name: str, kind: str, fn) -> None:
        if any(r[0] == rule_name for r in self):
            raise ValueError(f"duplicate rule name: {rule_name}")
        self.append((rule_name, kind, fn))

    def statement(self, pattern, flags: int = 0):
        pat = re.compile(pattern, flags)

        def add(fn):
            self.add(
                name(fn), "statement",
                lambda eng, text: (m := pat.match(text)) and fn(eng, m),
            )
            return fn

        return add

    def rewrite(self, rule_name: str, pattern: str, repl, flags: int = 0) -> None:
        pat = re.compile(pattern, flags)
        self.add(
            rule_name, "rewrite",
            lambda eng, text: sub_outside_quotes(pat, repl, text),
        )

    def step(self, fn):
        f = getattr(fn, "__func__", fn)
        self.add(
            name(f), "step",
            (lambda eng, text: f(text)) if isinstance(fn, staticmethod) else f,
        )
        return fn
