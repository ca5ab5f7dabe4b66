"""The scrapelect read-evaluate-print loop.

Behavioral model: /root/reference/src/interpreter/repl.rs:262-360
(command surface) and 142-470 (context stack + pop-off semantics),
over the same pure-Python engine the Spark extraction UDF runs
(functions/interpreter.py) — the REPL is a driver-side tool; nothing
here touches Spark.

Ported semantics:
- a stack of contexts: documents pushed by ``/open``, single elements
  pushed by ``/enter name selector`` (first match or error,
  repl.rs:405-441);
- plain ``name: rvalue | filters;`` statements evaluate against the
  innermost element with the whole stack's bindings in view
  (repl.rs:94-118 get_inner), results print and merge into the top
  frame (pop_off, repl.rs:444-459);
- element-valued results are "forgotten" with the reference's warning
  (repl.rs:463-470);
- ``/leave`` pops; a named element frame folds its bindings into the
  parent as a structure (repl.rs:299-316); popping the last frame
  exits, as does EOF / ``/exit`` / ``/quit``;
- ``/eval <value>`` evaluates one inline value (repl.rs:344-352);
- ``/current`` prints the stack as ``on <url>: sel sel`` lines;
- value rendering replicates the reference's Display impl
  (filter-types/src/value.rs:318-343), including the trailing-comma
  list form ``[1, 2, ]``, the ``{ "k": v,  }`` structure form, and
  the element form ``<tag attr="v"...>`` *without* separating spaces
  (value.rs:237-252 writes attrs back-to-back).
"""

from __future__ import annotations

import sys
from dataclasses import dataclass, field
from typing import Any, Callable, Optional, TextIO

from .errors import EvalError, ScrapelectError
from .functions.dom import ElementNode, parse_html
from .functions.filters import FILTERS, FilterSpec
from .functions.interpreter import (
    Interpreter,
    Scope,
    compile_selector,
    corpus_fetcher,
    fetch_text,
)
from .functions.value import bindings_into_data, is_element
from .plans.parser import Parser, parse_string_literal
from .plans.scanner import Token

HELP_TEXT = (
    "Available commands:\n"
    "\n"
    "- /help: display this help message\n"
    "- /open <url: String>: open a new web page at `url` and select the root element.\n"
    "- /enter <name> <selector>: enter a multiline element context block `name: selector {...}`\n"
    "- /current: print the current URL and selector\n"
    "- /leave: leave the current element context\n"
    "- /eval <value>: evaluate an inline value `<leaf | filters>`\n"
    "- /quit | /exit: exit the REPL\n"
)

NO_DOCUMENT_MSG = (
    "You do not have a document open.\n"
    "Call `/open <url: String>` to load a document from a URL."
)


def display_value(v: Any) -> str:
    """Reference ``Display for Value`` parity (value.rs:318-343)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _display_float(v)
    if isinstance(v, str):
        return f'"{v}"'
    if isinstance(v, list):
        return "[" + "".join(f"{display_value(x)}, " for x in v) + "]"
    if isinstance(v, dict):
        # BTreeMap iteration order = sorted keys
        inner = "".join(
            f'"{k}": {display_value(v[k])}, ' for k in sorted(v)
        )
        return "{ " + inner + " }"
    if is_element(v):
        node = v.node
        attrs = "".join(f'{k}="{val}"' for k, val in node.attrs)
        return f"<{node.tag}{attrs}>"
    return str(v)


def _display_float(x: float) -> str:
    """Rust f64 Display: shortest round-trip form, integral floats
    without the trailing ``.0`` (``1.0`` prints as ``1``)."""
    if x != x:
        return "NaN"
    if x == float("inf"):
        return "inf"
    if x == float("-inf"):
        return "-inf"
    if x == int(x) and abs(x) < 1e16:
        return str(int(x))
    return repr(x)


@dataclass
class Frame:
    """One stack entry: a document (via /open) or element (via /enter)."""

    kind: str  # "document" | "element"
    element: ElementNode
    bindings: dict[str, Any] = field(default_factory=dict)
    url: Optional[str] = None  # document frames
    selector: Optional[str] = None  # element frames (display form)
    name: Optional[str] = None  # element frames entered with a name


#: fetcher: url -> html text
Fetcher = Callable[[str], str]


class Repl:
    """Interactive scrp session over stream I/O (testable: pass
    ``io.StringIO`` streams)."""

    def __init__(
        self,
        *,
        fetcher: Optional[Fetcher] = None,
        registry: dict[str, FilterSpec] = FILTERS,
        input_stream: Optional[TextIO] = None,
        output_stream: Optional[TextIO] = None,
        error_stream: Optional[TextIO] = None,
    ):
        self.fetcher = fetcher or corpus_fetcher({})
        self.stack: list[Frame] = []
        self.input = input_stream if input_stream is not None else sys.stdin
        self.output = output_stream if output_stream is not None else sys.stdout
        self.errors = error_stream if error_stream is not None else sys.stderr

        def _interp_fetch(url: str) -> ElementNode:
            return parse_html(self.fetcher(url))

        self.interp = Interpreter(fetcher=_interp_fetch, registry=registry)

    # --- I/O --------------------------------------------------------
    def _out(self, text: str = "", end: str = "\n") -> None:
        self.output.write(text + end)

    def _get_line(self) -> Optional[str]:
        if self.stack:
            top = self.stack[-1]
            self._out(top.url if top.kind == "document" else top.selector, end="")
        self._out("> ", end="")
        self.output.flush()
        line = self.input.readline()
        if line == "":
            return None  # EOF
        return line.rstrip("\n")

    # --- context ----------------------------------------------------
    def _current_url(self) -> Optional[str]:
        for frame in reversed(self.stack):
            if frame.kind == "document":
                return frame.url
        return None

    def _scope_chain(self) -> Scope:
        """Innermost scope over the stack: every frame's bindings are
        in view (get_inner, repl.rs:110-118); writes land in a fresh
        ledger scope that pop_off folds into the top frame."""
        if not self.stack:
            raise EvalError(NO_DOCUMENT_MSG)
        url = self._current_url() or ""
        parent: Optional[Scope] = None
        for frame in self.stack:
            s = Scope(frame.element, parent, url)
            s.bindings = frame.bindings  # shared: REPL bindings persist
            parent = s
        ledger = Scope(self.stack[-1].element, parent, url)
        return ledger

    def _pop_off(self, ledger: Scope) -> None:
        """Print + merge the ledger into the top frame, forgetting
        element-valued bindings with the reference's warning
        (repl.rs:444-470)."""
        top = self.stack[-1]
        for name, value in ledger.bindings.items():
            if is_element(value):
                print(
                    f"Binding {name}: {display_value(value)} contains a "
                    "temporary element reference, which is currently not "
                    "supported in the REPL.\n"
                    "It will be 'forgotten' and not available in the "
                    "subsequent lines.",
                    file=self.errors,
                )
                continue
            self._out(f"{name}: {display_value(value)}")
            top.bindings[name] = value

    # --- commands ---------------------------------------------------
    def handle_command(self, command: str) -> bool:
        parser = Parser(command)
        word = parser.try_eat(Token.ID).value

        if word in ("exit", "quit"):
            return False

        if word == "open":
            url = parse_string_literal(parser.try_eat(Token.STRING).value)
            root = parse_html(self.fetcher(url))
            self.stack.append(Frame(kind="document", element=root, url=url))
            return True

        if word == "leave":
            if not self.stack:
                return False
            frame = self.stack.pop()
            if frame.kind == "element" and frame.name and self.stack:
                value = bindings_into_data(frame.bindings)
                self._out(f"{frame.name}: {display_value(value)}")
                self.stack[-1].bindings[frame.name] = value
            return True

        if word == "enter":
            name = parser.try_eat(Token.ID).value
            selector = parser.parse_selector()
            self._select(selector, name)
            return True

        if word == "help":
            self._out(HELP_TEXT)
            return True

        if word == "current":
            for frame in self.stack:
                if frame.kind == "document":
                    self._out(f"\non {frame.url}:", end="")
                else:
                    self._out(f" {frame.selector}", end="")
            self._out()
            return True

        if word == "eval":
            inline = parser.parse_value()
            ledger = self._scope_chain()
            value = self.interp.eval_inline(inline, ledger)
            self._out(display_value(value))
            self._pop_off(ledger)
            return True

        raise EvalError(
            f"Unknown command `/{word}`.\nRun `/help` for a list of commands."
        )

    def _select(self, selector, name: Optional[str]) -> None:
        if not self.stack:
            raise EvalError(NO_DOCUMENT_MSG)
        compiled = compile_selector(selector)
        first = next(compiled.select(self.stack[-1].element), None)
        css = selector.css()
        if first is None:
            raise EvalError(f"no element found with selector `{css}`")
        self.stack.append(
            Frame(kind="element", element=first, selector=css, name=name)
        )

    # --- loop -------------------------------------------------------
    def rep(self) -> bool:
        """One read-evaluate-print step; False = exit requested."""
        line = self._get_line()
        if line is None:
            return False
        line = line.strip()
        if not line:
            return True
        if line.startswith("/"):
            return self.handle_command(line[1:])

        ledger = self._scope_chain()
        parser = Parser(line)
        statement = parser.parse_statement()
        self.interp.interpret_statement(statement, ledger)
        self._pop_off(ledger)
        return True

    def repl(self) -> None:
        while True:
            try:
                if not self.rep():
                    break
            except ScrapelectError as e:
                print(f"Error: {e}", file=self.errors)
        self._out("Exiting...")


def main(argv: Optional[list[str]] = None) -> int:
    """``python -m scrapelect_spark.repl [url]`` — file:// URLs work
    everywhere; http(s) requires network access."""
    argv = sys.argv[1:] if argv is None else argv

    repl = Repl(fetcher=fetch_text)
    if argv:
        try:
            repl.handle_command(f'open "{argv[0]}"')
        except ScrapelectError as e:
            print(f"Error: {e}", file=sys.stderr)
            return 1
    repl.repl()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
