"""DOM mutation matrix re-expressing /root/reference/t/0-api.t:719-1040."""

import pytest

from perl_html5_dom_spark import HTML5DOM

SRC = """
\t<div id="test"><b><!-- c --> ololo <div class="red">x</div></b></div>
\t<ul>
\t   <li>UNIX</li>
\t   <li>Linux</li>
\t   <!-- comment -->
\t   <li>OSX</li>
\t   <li>Windows</li>
\t   <li>FreeBSD</li>
   </ul>
"""


def _tree():
    return HTML5DOM().parse(SRC)


def test_append():
    t = _tree()
    el = t.at("#test")
    arg = t.createElement("div")
    old_parent = el.parent()
    assert el.append(arg) == el                 # returns self
    assert el.last() == arg
    assert arg.parent() == el
    assert el.parent() == old_parent


def test_append_child():
    t = _tree()
    el = t.at("#test")
    arg = t.createElement("div")
    assert el.appendChild(arg) == arg           # returns added
    assert el.last() == arg


def test_prepend():
    t = _tree()
    el = t.at("#test")
    arg = t.createElement("div")
    assert el.prepend(arg) == el
    assert el.first() == arg
    arg2 = t.createElement("span")
    assert el.prependChild(arg2) == arg2
    assert el.first() == arg2


def test_replace():
    t = _tree()
    el = t.at("#test")
    parent = el.parent()
    idx = next(i for i, c in enumerate(parent.children()) if c == el)
    arg = t.createElement("div")
    assert el.replace(arg) == el
    assert parent.children().item(idx) == arg
    assert arg.parent() == parent
    assert not el.isConnected()


def test_replace_child():
    t = _tree()
    el = t.at("#test")
    parent = el.parent()
    idx = next(i for i, c in enumerate(parent.children()) if c == el)
    arg = t.createElement("div")
    assert parent.replaceChild(arg, el) == el   # returns old child
    assert parent.children().item(idx) == arg
    assert not el.isConnected()


@pytest.mark.parametrize("ref_index", [2, 0, 4])
def test_before_after(ref_index):
    t = _tree()
    lis = t.find("ul li")
    el = lis[ref_index]
    parent = el.parent()
    idx = next(i for i, c in enumerate(parent.children()) if c == el)
    arg = t.createElement("div")
    assert el.before(arg) == el
    assert parent.children().item(idx) == arg

    t = _tree()
    lis = t.find("ul li")
    el = lis[ref_index]
    parent = el.parent()
    idx = next(i for i, c in enumerate(parent.children()) if c == el)
    arg = t.createElement("div")
    assert parent.insertBefore(arg, el) == arg
    assert parent.children().item(idx) == arg

    t = _tree()
    lis = t.find("ul li")
    el = lis[ref_index]
    parent = el.parent()
    idx = next(i for i, c in enumerate(parent.children()) if c == el)
    arg = t.createElement("div")
    assert el.after(arg) == el
    assert parent.children().item(idx + 1) == arg

    t = _tree()
    lis = t.find("ul li")
    el = lis[ref_index]
    parent = el.parent()
    idx = next(i for i, c in enumerate(parent.children()) if c == el)
    arg = t.createElement("div")
    assert parent.insertAfter(arg, el) == arg
    assert parent.children().item(idx + 1) == arg


def test_remove():
    t = _tree()
    el = t.at("#test")
    el.remove()
    assert not el.isConnected()
    assert t.at("#test") is None

    t = _tree()
    el = t.at("#test")
    parent = el.parent()
    removed = parent.removeChild(el)
    assert removed == el
    assert not el.isConnected()


def test_fragment_splice():
    """Fragment args splice their children (DOM.pod:1374-1377)."""
    t = HTML5DOM().parse("<div id=x><i>old</i></div>")
    frag = t.parseFragment("<b>1</b><u>2</u>")
    el = t.at("#x")
    el.append(frag)
    assert el.html() == "<div id=\"x\"><i>old</i><b>1</b><u>2</u></div>"


def test_clone():
    t = _tree()
    el = t.at("#test")
    shallow = el.clone(False)
    assert shallow.tag() == "div"
    assert shallow.attr("id") == "test"
    assert shallow.children().length() == 0
    deep = el.clone(True)
    assert deep.html() == el.html()
    assert not deep.isSameNode(el)
    # cross-tree clone
    t2 = HTML5DOM().parse("<body></body>")
    cross = el.clone(True, t2)
    t2.body().append(cross)
    assert t2.body().html() == "<body>%s</body>" % el.html()


def test_attr_ops():
    """attr get/set/remove/bulk (t/0-api.t:1460-1581)."""
    t = HTML5DOM().parse('<div id="x" a="1"></div>')
    el = t.at("#x")
    assert el.attr("a") == "1"
    assert el.attr("missing") is None
    el.attr("b", "2")
    assert el.attr("b") == "2"
    el.attr({"c": "3", "a": None})
    assert el.attr("c") == "3"
    assert el.attr("a") is None
    assert el.attr() == {"id": "x", "b": "2", "c": "3"}
    el.removeAttr("b")
    assert el.attr("b") is None
    assert el["c"] == "3"
    el["d"] = "4"
    assert el.attr("d") == "4"
    assert "d" in el
    del el["d"]
    assert "d" not in el
    arr = el.attrArray()
    assert arr[0]["name"] == "id" and arr[0]["value"] == "x"


def test_doctype_accessors():
    t = HTML5DOM().parse(
        '<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.01//EN" '
        '"http://www.w3.org/TR/html4/strict.dtd"><p>x</p>')
    dt = t.document().firstChild()
    assert dt.name() == "html"
    assert dt.publicId() == "-//W3C//DTD HTML 4.01//EN"
    assert dt.systemId() == "http://www.w3.org/TR/html4/strict.dtd"
    dt.publicId("")
    dt.systemId("")


def test_text_setter_on_text_node():
    t = HTML5DOM().parse("<div id=x>old</div>")
    txt = t.at("#x").firstChild()
    txt.text("new")
    assert t.at("#x").text() == "new"
    assert txt.nodeValue() == "new"


def test_hierarchy_guard_rejects_ancestor_insertion():
    """Inserting a node into its own subtree must raise (the spec's
    HierarchyRequestError) instead of silently detaching the subtree
    into an orphan cycle — found by the round-3 mutation fuzz."""
    import pytest

    from perl_html5_dom_spark.api import HTML5DOM

    api = HTML5DOM()
    tree = api.parse("<body><div><p><span>x</span></p></div></body>")
    div, span = tree.at("div"), tree.at("span")
    for op in ("append", "prepend", "before", "after"):
        with pytest.raises(ValueError):
            getattr(span, op)(div)
        with pytest.raises(ValueError):
            getattr(span, op)(tree.body())
    # the tree is untouched and legal moves still work
    assert tree.at("div").at("p").at("span") is not None
    tree.body().append(tree.at("p"))
    assert tree.at("div").at("p") is None


#: runs in a child interpreter: a node inserted before itself must
#: leave the tree, its links and its serialization unchanged, and a
#: following-sibling query from it must end
_SELF_INSERT = """
from perl_html5_dom_spark import HTML5DOM

t = HTML5DOM().parse(
    "<!-- lead --><!DOCTYPE html><ul><li>a</li><li>b</li><li>c</li></ul>")
doc = t.doc
links = (doc.parent, doc.first_child, doc.prev_sib, doc.next_sib)
before = [list(a) for a in links], t.html()
li = t.find("li")[1]
li.before(li)
li.parent().insertBefore(li, li)
t.document().before(t.document())
assert ([list(a) for a in links], t.html()) == before
assert [n.text() for n in li.find("*", "~")] == ["c"]
assert [n.text() for n in t.find("li")[2].find("*", "~")] == []
print("ok")
"""


def test_insert_before_itself_is_a_no_op():
    import subprocess
    import sys
    from pathlib import Path

    out = subprocess.run(
        [sys.executable, "-c", _SELF_INSERT], capture_output=True,
        text=True, timeout=60, cwd=Path(__file__).resolve().parent.parent)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout == "ok\n"
