"""The scrp execution engine: scoped element contexts, qualifiers,
filter pipelines, URL recursion.

Behavioral model: /root/reference/src/interpreter/mod.rs:48-251 and
filter-types/src/context.rs.  This module is pure Python (no Spark):
on the driver it powers unit/golden tests; on executors it runs inside
the Arrow extraction UDF (operators/extract.py), vectorized over pages.

Execution semantics preserved from the reference:
- statements run sequentially, later reads see earlier writes,
  rebinding overwrites (shadowing; mod.rs:84-86, context.rs:213-216);
- scope chain is innermost-first; `element` is a special immutable
  binding (context.rs:26-57);
- block qualifiers: One = first match / ERROR on zero, `?` = first or
  Null, `*` = all matches in document order (execution_mode.rs:53-61);
- element-valued bindings are dropped at block close
  (context.rs:142-149);
- strict errors: first error aborts.  The corpus paths run each page
  through one kernel (``operators.extract.evaluate_page``), which turns
  a ``ScrapelectError`` into that page's error value; any other
  exception fails the task.

Selectors are compiled once per process via an lru-cache keyed by the
(frozen, hashable) Selector AST node — the driver warms it at compile
time; executors warm it once per worker, not per page (the reference
recompiles per block evaluation, mod.rs:140 — SURVEY.md §4 row 1).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Any, Callable, Optional
from urllib.parse import urljoin, urlsplit

from ..errors import EvalError
from ..plans.ast import (
    Element,
    Filter,
    FilterCall,
    FilterSelect,
    Inline,
    Leaf,
    Qualifier,
    Selector,
    Statement,
)
from .css import CompiledSelector
from .dom import ElementNode
from .filters import FILTERS, FilterSpec, dispatch_filter
from .value import ElementValue, bindings_into_data, type_name


@lru_cache(maxsize=4096)
def compile_selector(selector: Selector) -> CompiledSelector:
    return CompiledSelector(selector)


def warm_selectors(statements: tuple[Statement, ...]) -> None:
    """Driver-side eager compile of every selector in a program."""
    for st in statements:
        if isinstance(st.value, Element):
            _warm_element(st.value)


def _warm_element(el: Element) -> None:
    compile_selector(el.selector)
    for st in el.statements:
        if isinstance(st.value, Element):
            _warm_element(st.value)


class Scope:
    """One element context block — ``Linked`` (context.rs:110-120)."""

    __slots__ = ("bindings", "element", "parent", "url")

    def __init__(
        self,
        element: ElementNode,
        parent: Optional["Scope"],
        url: str,
    ):
        self.bindings: dict[str, Any] = {}
        self.element = element
        self.parent = parent
        self.url = url

    def get(self, name: str) -> Any:
        if name == "element":
            return ElementValue(self.element)
        scope: Scope | None = self
        while scope is not None:
            if name in scope.bindings:
                return scope.bindings[name]
            scope = scope.parent
        raise EvalError(f"unknown binding `{name}`")

    def set(self, name: str, value: Any) -> None:
        if name == "element":
            raise EvalError("assignment to immutable binding `element`")
        self.bindings[name] = value

    def nest(self, url: Optional[str], element: ElementNode) -> "Scope":
        return Scope(element, self, url if url is not None else self.url)


#: fetcher contract: canonical-ish URL string -> parsed document root
Fetcher = Callable[[str], ElementNode]


def corpus_fetcher(corpus: dict[str, str]) -> Callable[[str], str]:
    """``url -> html`` over an in-memory corpus, the resolver behind
    ``extract()``'s URL recursion, the REPL and the CLI's ``file://``
    reads.  A URL missing from the corpus is retried without its
    trailing ``/``; a ``file://`` URL reads the local file (reference
    parity, mod.rs:70-72); anything else raises ``EvalError``."""

    def fetch(url: str) -> str:
        html = corpus.get(url)
        if html is None and url.endswith("/"):
            html = corpus.get(url[:-1])
        if html is None and url.startswith("file://"):
            path = urlsplit(url).path
            try:
                with open(path) as f:
                    return f.read()
            except OSError as e:
                raise EvalError(f"reading from file `{path}` failed: {e}")
        if html is None:
            raise EvalError(f"request to `{url}` failed: not in corpus")
        return html

    return fetch


def fetch_text(url: str) -> str:
    """``url -> html`` for the CLI and the REPL: ``file://`` through
    :func:`corpus_fetcher`, http(s) with the reference User-Agent.
    Failures raise ``EvalError``, so they print as interpreter errors,
    the way the reference surfaces reqwest failures."""
    if url.startswith("file://"):
        return corpus_fetcher({})(url)
    import urllib.error
    import urllib.request

    from ..sources.fetch import HttpFetcher

    req = urllib.request.Request(url, headers={"User-Agent": HttpFetcher.REFERENCE_UA})
    try:
        with urllib.request.urlopen(req, timeout=10.0) as resp:
            return resp.read().decode("utf-8", errors="replace")
    except (urllib.error.URLError, OSError) as e:
        raise EvalError(f"request to `{url}` failed: {e}") from e


def _no_fetcher(url: str) -> ElementNode:
    raise EvalError(
        f"URL recursion to `{url}` requires a fetcher (none configured)"
    )


class Interpreter:
    """Tree-walking evaluator for a compiled scrp program."""

    def __init__(
        self,
        fetcher: Fetcher | None = None,
        registry: dict[str, FilterSpec] = FILTERS,
    ):
        self.fetcher = fetcher or _no_fetcher
        self.registry = registry

    # --- entry points ---------------------------------------------
    def interpret(
        self, statements: tuple[Statement, ...], root_url: str
    ) -> dict[str, Any]:
        """Fetch ``root_url`` and evaluate the program against it
        (mod.rs:48-57).  Returns element-free output bindings."""
        root = self.fetcher(root_url)
        return self.interpret_block(statements, Scope(root, None, root_url))

    def interpret_document(
        self, statements: tuple[Statement, ...], root: ElementNode, url: str
    ) -> dict[str, Any]:
        """Evaluate against an already-parsed document (test harness /
        Spark-extract path, mod.rs:253-276)."""
        return self.interpret_block(statements, Scope(root, None, url))

    # --- core -----------------------------------------------------
    def interpret_block(
        self, statements: tuple[Statement, ...], scope: Scope
    ) -> dict[str, Any]:
        for st in statements:
            self.interpret_statement(st, scope)
        return bindings_into_data(scope.bindings)

    def interpret_statement(self, st: Statement, scope: Scope) -> None:
        try:
            if isinstance(st.value, Element):
                value = self.interpret_element(st.value, scope)
            else:
                value = leaf_to_value(scope, st.value)
            value = self.apply_filters(value, st.filters, scope)
            scope.set(st.id, value)
        except EvalError as e:
            raise e.wrap(
                f"note: occurred while evaluating binding `{st.id}`."
            )

    def interpret_element(self, el: Element, scope: Scope) -> Any:
        try:
            if el.url is not None:
                url_v = self.eval_inline(el.url, scope)
                if not isinstance(url_v, str):
                    raise EvalError(
                        f"expected a string URL, got {type_name(url_v)}"
                    )
                url = _resolve_url(url_v, scope.url)
                root = self.fetcher(url)
                new_url: str | None = url
            else:
                root = scope.element
                new_url = None

            sel = compile_selector(el.selector)
            matched = sel.select(root)

            # ExecutionMode::hinted_from_iter (execution_mode.rs:53-61)
            if el.qualifier is Qualifier.ONE:
                first = next(matched, None)
                if first is None:
                    raise EvalError("expected exactly one value, got none")
                elements = [first]
            elif el.qualifier is Qualifier.OPTIONAL:
                first = next(matched, None)
                elements = [] if first is None else [first]
            else:
                elements = list(matched)

            values = [
                self.interpret_block(el.statements, scope.nest(new_url, m))
                for m in elements
            ]

            if el.qualifier is Qualifier.ONE:
                return values[0]
            if el.qualifier is Qualifier.OPTIONAL:
                return values[0] if values else None
            return values
        except EvalError as e:
            raise e.wrap(
                f"note: occurred while evaluating element block `{el.selector.css()}`"
            )

    def apply_filters(
        self, value: Any, filters: tuple[Filter, ...], scope: Scope
    ) -> Any:
        for f in filters:
            if isinstance(f.filter, FilterCall):
                call = f.filter
                # args evaluated once, before the qualifier fans out
                # (mod.rs:174-183)
                args = {
                    a.id: self.eval_inline(a.value, scope) for a in call.args
                }
                value = _qualify(
                    f.qualifier,
                    value,
                    lambda v: dispatch_filter(
                        call.id, v, args, scope, self.registry
                    ),
                )
            else:
                sel: FilterSelect = f.filter
                value = _qualify(
                    f.qualifier, value, lambda v: self._filter_select(sel, v, scope)
                )
        return value

    def _filter_select(self, sel: FilterSelect, value: Any, scope: Scope) -> list:
        # mod.rs:184-203 — order-preserving keep-if-true over a list
        if not isinstance(value, list):
            raise EvalError(
                f"expected a list for select filter, got {type_name(value)}"
            )
        inner = scope.nest(None, scope.element)
        out = []
        for item in value:
            inner.set(sel.name, item)
            keep = self.eval_inline(sel.value, inner)
            if not isinstance(keep, bool):
                raise EvalError(
                    f"select filter pipeline must return a bool, got {type_name(keep)}"
                )
            if keep:
                out.append(item)
        return out

    def eval_inline(self, inline: Inline, scope: Scope) -> Any:
        return self.apply_filters(
            leaf_to_value(scope, inline.value), inline.filters, scope
        )


def _qualify(qualifier: Qualifier, value: Any, action: Callable[[Any], Any]) -> Any:
    """Filter qualifiers (mod.rs:221-239): `?` passes Null through,
    `*` maps over a List (error if not a list)."""
    if qualifier is Qualifier.ONE:
        return action(value)
    if qualifier is Qualifier.OPTIONAL:
        return None if value is None else action(value)
    if not isinstance(value, list):
        raise EvalError(
            f"expected a list for `*`-qualified filter, got {type_name(value)}"
        )
    return [action(v) for v in value]


def leaf_to_value(scope: Scope, leaf: Leaf) -> Any:
    # mod.rs:241-251
    if leaf.kind == "var":
        return scope.get(leaf.value)
    return leaf.value


def _resolve_url(url: str, base: str) -> str:
    """Absolute URL, or joined against the scope URL when relative
    (mod.rs:124-138 — rust Url::parse / RelativeUrlWithoutBase / join)."""
    if urlsplit(url).scheme:
        return url
    joined = urljoin(base, url)
    if not urlsplit(joined).scheme:
        raise EvalError(f"`{url}` is not a valid relative URL")
    return joined
