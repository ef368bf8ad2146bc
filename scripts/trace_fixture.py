"""Debug helper: trace where a text snippet is lost in the pipeline.

Usage: python scripts/trace_fixture.py PAGE.html "snippet"

Runs the production extraction steps on one page and prints, for the
snippet: which buckets of the cleaner's target walk
(``_collect_clean_targets``, one bucket per cleaner pass) hold it on
the fresh parse, then whether it is still present after
``clean_document``, in and after ``calculate_best_node``, after
``post_cleanup``, after each formatter step and in the final text.
"""
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from newspaper_spark.dom import fromstring, is_comment
from newspaper_spark.kernel import formatter as F
from newspaper_spark.kernel.cleaner import (
    _PATTERN_RXS,
    _collect_clean_targets,
    clean_document,
)
from newspaper_spark.kernel.metadata import get_meta_lang
from newspaper_spark.kernel.scorer import calculate_best_node, post_cleanup


def has(node, snippet):
    if is_comment(node):
        return snippet in (node.text or "")
    return snippet in "".join(node.itertext())


def clean_buckets(targets):
    """(label, nodes) per cleaner pass, in the order clean_document
    applies them; the label says what the pass does to its nodes."""
    body = [targets.body] if targets.body is not None else []
    yield "body (class dropped)", body
    yield "article (id/name/class dropped)", targets.articles
    yield "em (unwrapped unless it holds an img)", targets.ems
    yield "dropcap span (unwrapped)", targets.dropcaps
    yield "script (removed)", targets.scripts
    yield "style (removed)", targets.styles
    yield "comment (removed)", targets.comments
    for attr, nodes in zip(("id", "class", "name"), targets.naughty):
        yield f"naughty {attr} (removed unless it holds an article)", nodes
    for rx, by_attr in zip(_PATTERN_RXS, targets.extra):
        for attr, nodes in zip(("id", "class"), by_attr):
            yield f"pattern {rx.pattern!r} on {attr} (removed)", nodes
    yield "p span (unwrapped)", targets.pspans


def describe(node):
    if is_comment(node):
        return "<!--comment-->"
    attrs = "".join(f' {k}="{v}"' for k, v in node.attrib.items())
    return f"<{node.tag}{attrs}>"


def main(argv=None):
    path, snippet = argv if argv is not None else sys.argv[1:]
    html = pathlib.Path(path).read_text(encoding="utf-8")
    doc = fromstring(html)
    if doc is None:
        print("parse failed")
        return
    lang = get_meta_lang(doc) or "en"
    print("lang:", lang)
    print("parsed:", has(doc, snippet))
    for label, nodes in clean_buckets(_collect_clean_targets(doc)):
        for node in nodes:
            if has(node, snippet):
                print(f"bucket {label}: {describe(node)}")
    doc = clean_document(doc)
    print("after clean_document:", has(doc, snippet))
    top = calculate_best_node(doc, lang)
    if top is None:
        print("no top node")
        return
    print("top tag:", top.tag, dict(top.attrib))
    print("in top:", has(top, snippet))
    top = post_cleanup(top, lang)
    print("after post_cleanup:", has(top, snippet))
    for label, fn in [
        ("negscores", F.remove_negativescores_nodes),
        ("links", F.links_to_text),
        ("br", F.add_newline_to_br),
        ("li", F.add_newline_to_li),
        ("replace", F.replace_with_text),
        ("empty", F.remove_empty_tags),
        ("media", F.remove_trailing_media_div),
    ]:
        fn(top)
        print(f"after {label}: {has(top, snippet)}")
    out = F.convert_to_text(top)
    print("in final text:", snippet in out)


if __name__ == "__main__":
    main()
