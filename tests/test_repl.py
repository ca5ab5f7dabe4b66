"""REPL parity tests: the command surface and pop-off semantics of
/root/reference/src/interpreter/repl.rs:262-470, driven through
scripted stdin/stdout streams."""

import io

import pytest

from scrapelect_spark.repl import Repl, corpus_fetcher, display_value

PAGE = """
<html><body>
  <h1 id="title">Hello</h1>
  <ul>
    <li class="it">one</li>
    <li class="it">two</li>
  </ul>
  <a href="/next">next</a>
</body></html>
"""

CORPUS = {"http://repl.test/": PAGE}


def run_session(lines, corpus=CORPUS):
    inp = io.StringIO("".join(line + "\n" for line in lines))
    out, err = io.StringIO(), io.StringIO()
    repl = Repl(
        fetcher=corpus_fetcher(corpus),
        input_stream=inp,
        output_stream=out,
        error_stream=err,
    )
    repl.repl()
    return out.getvalue(), err.getvalue()


def test_statement_without_document_errors():
    out, err = run_session(['x: "hi";'])
    assert "You do not have a document open" in err
    assert "/open <url: String>" in err


def test_open_statement_and_prompt():
    out, err = run_session(
        ['/open "http://repl.test/"', 'greeting: "hello";', "/exit"]
    )
    # prompt shows the document URL once open
    assert "http://repl.test/> " in out
    assert 'greeting: "hello"' in out
    assert out.rstrip().endswith("Exiting...")
    assert err == ""


def test_bindings_persist_and_shadow():
    out, _ = run_session(
        [
            '/open "http://repl.test/"',
            "n: 1;",
            "m: $n | add(to: 41);",
            "n: 10;",
            "m2: $n | add(to: 1);",
            "/exit",
        ]
    )
    assert "m: 42" in out
    assert "m2: 11" in out


def test_element_binding_is_forgotten():
    out, err = run_session(
        [
            '/open "http://repl.test/"',
            "t: h1 { e: $element; };",
            "/exit",
        ]
    )
    # block output projects elements away already; bind one directly:
    out2, err2 = run_session(
        [
            '/open "http://repl.test/"',
            "x: $element;",
            "/exit",
        ]
    )
    assert "temporary element reference" in err2
    assert "x:" not in out2


def test_enter_leave_folds_named_structure():
    out, _ = run_session(
        [
            '/open "http://repl.test/"',
            "/enter heading h1",
            "t: $element | text();",
            "/leave",
            "check: $heading | take(key: \"t\");",
            "/exit",
        ]
    )
    # inside the block the statement prints; on /leave the named frame
    # folds into the parent and prints the structure
    assert 't: "Hello"' in out
    assert 'heading: { "t": "Hello",  }' in out
    assert 'check: "Hello"' in out
    # prompt inside the element frame shows the selector
    assert "h1> " in out


def test_enter_no_match_errors():
    _, err = run_session(
        ['/open "http://repl.test/"', "/enter x h4", "/exit"]
    )
    assert "no element found with selector `h4`" in err


def test_eval_and_current():
    out, _ = run_session(
        [
            '/open "http://repl.test/"',
            '/eval <"a,b" | split(on: ",")>',
            "/current",
            "/exit",
        ]
    )
    assert '["a", "b", ]' in out  # reference trailing-comma Display
    assert "on http://repl.test/:" in out


def test_current_shows_stack():
    out, _ = run_session(
        [
            '/open "http://repl.test/"',
            "/enter item li.it",
            "/current",
            "/exit",
        ]
    )
    assert "on http://repl.test/: li.it" in out


def test_unknown_command_errors():
    _, err = run_session(['/frobnicate', "/exit"])
    assert "Unknown command `/frobnicate`" in err
    assert "/help" in err


def test_leave_last_frame_exits():
    out, _ = run_session(['/open "http://repl.test/"', "/leave"])
    assert out.rstrip().endswith("Exiting...")


def test_eof_exits():
    out, _ = run_session([])
    assert out.rstrip().endswith("Exiting...")


def test_help_lists_commands():
    out, _ = run_session(["/help", "/exit"])
    for cmd in ("/open", "/enter", "/leave", "/eval", "/current", "/quit"):
        assert cmd in out


def test_display_value_reference_forms():
    # filter-types/src/value.rs:318-343 Display parity
    assert display_value(None) == "null"
    assert display_value(True) == "true"
    assert display_value(3) == "3"
    assert display_value(1.0) == "1"  # Rust f64 Display drops .0
    assert display_value(1.5) == "1.5"
    assert display_value("s") == '"s"'
    assert display_value([]) == "[]"
    assert display_value([1, "a"]) == '[1, "a", ]'
    assert display_value({}) == "{  }"
    assert display_value({"b": 1, "a": None}) == '{ "a": null, "b": 1,  }'


def test_parse_error_is_reported_not_fatal():
    out, err = run_session(
        ['/open "http://repl.test/"', "x: ;", 'y: "ok";', "/exit"]
    )
    assert "Error:" in err
    assert 'y: "ok"' in out  # loop survives the parse error


def test_open_retries_without_the_trailing_slash():
    """The REPL resolves URLs like ``extract()``: a URL missing from the
    corpus is retried without its trailing ``/``."""
    out, err = run_session(
        ['/open "http://repl.test/page/"', "t: h1 { x: $element | text(); };", "/exit"],
        corpus={"http://repl.test/page": PAGE},
    )
    assert err == ""
    assert '"x": "Hello"' in out


def test_main_reports_a_refused_fetch_and_goes_on(monkeypatch, capsys):
    """``repl.main`` fetches through the CLI's ``fetch_text``: a refused
    http request is an interpreter error, not a traceback, and the
    session keeps reading commands."""
    from scrapelect_spark import repl

    monkeypatch.setattr(
        "sys.stdin", io.StringIO('/open "http://127.0.0.1:9/"\nx: 1;\n/exit\n')
    )
    assert repl.main([]) == 0
    out, err = capsys.readouterr()
    assert "request to `http://127.0.0.1:9/` failed" in err
    assert "You do not have a document open" in err
    assert out.rstrip().endswith("Exiting...")
