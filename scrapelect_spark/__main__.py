"""One-shot batch CLI — parity with the reference binary's interface
(/root/reference/src/main.rs:14-81):

    python -m scrapelect_spark <file.scrp> <url>        # run (default)
    python -m scrapelect_spark run <file.scrp> <url>
    python -m scrapelect_spark repl [url]

``run`` reads the ``.scrp`` program, parses it, interprets it against
the fetched page, and pretty-prints the JSON results to stdout
(main.rs:48-62: read → parse with "parse error in <file>:" context →
interpret → serde_json::to_string_pretty).  Errors print in the anyhow
report format the reference binary emits::

    Error: <context>

    Caused by:
        <source>

and exit 1.  ``file://`` URLs work everywhere; http(s) fetches send the
reference User-Agent ("scrapelect v0.4.0", src/interpreter/mod.rs:28-39).
"""

from __future__ import annotations

import sys
from typing import Optional

from .errors import ScrapelectError
from .functions.dom import parse_html
from .functions.interpreter import Interpreter, fetch_text
from .functions.value import to_json_pretty
from .plans.parser import parse_program


def _report(context: str, cause: Optional[str], err) -> None:
    """anyhow-style error report (context line + indented cause chain),
    the shape `cargo run file url` prints on failure."""
    print(f"Error: {context}", file=err)
    if cause:
        print(f"\nCaused by:\n    {cause}", file=err)


def run(file: str, url: str, out=None, err=None) -> int:
    out = out or sys.stdout
    err = err or sys.stderr
    try:
        with open(file) as f:
            pgm = f.read()
    except OSError as e:
        _report(f"error reading file {file}", e.strerror or str(e), err)
        return 1
    try:
        ast = parse_program(pgm)
    except ScrapelectError as e:
        _report(f"parse error in {file}:", str(e), err)
        return 1
    interp = Interpreter(fetcher=lambda u: parse_html(fetch_text(u)))
    try:
        results = interp.interpret(ast, url)
    except ScrapelectError as e:
        _report(str(e), None, err)
        return 1
    print(to_json_pretty(results), file=out)
    return 0


def _usage() -> str:
    prog = "python -m scrapelect_spark"
    return (
        f"Usage: {prog} [run] <file.scrp> <url>\n"
        f"       {prog} repl [url]\n"
        f"       {prog} --version | --help"
    )


def main(argv: Optional[list[str]] = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] in ("--version", "-V"):
        from . import __version__

        # clap's `version` flag parity (main.rs:14 #[command(version)])
        print(f"scrapelect-spark {__version__} (engine parity: scrapelect v0.4.0)")
        return 0
    if argv and argv[0] in ("--help", "-h"):
        print(_usage())
        return 0
    if argv and argv[0] == "repl":
        from .repl import main as repl_main

        return repl_main(argv[1:])
    if argv and argv[0] == "run":
        argv = argv[1:]
    if len(argv) != 2:
        print(_usage(), file=sys.stderr)
        return 2
    return run(argv[0], argv[1])


if __name__ == "__main__":
    raise SystemExit(main())
