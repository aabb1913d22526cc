"""Beyond-reference selector extensions (opt-in via extensions=True):
attribute operators ~= ^= $= *=, :not(<simple compound>), :empty and
:nth-child(an+b|odd|even).  The reference leaves all of these as TODOs
(Parser/Selector.php:47-72, 205-233); the DEFAULT path must keep its
silent fall-through byte-for-byte (pinned here too)."""

from hquery_php_spark.core.doc import HDoc

H = (
    b'<div><p class="a big">one</p><p class="ab">two</p>'
    b'<p id="x3" data-v="hello world">three</p>'
    b"<span></span><span> </span><span><!-- c --></span><br>"
    b"<ul><li>1</li><li>2</li><li>3</li><li>4</li><li>5</li></ul></div>"
)


def _texts(doc, sel, **kw):
    r = doc.find(sel, **kw)
    return [e.text() for e in r] if r else []


def test_attr_operators():
    d = HDoc(H)
    assert _texts(d, "p[class~=big]", extensions=True) == ["one"]
    assert _texts(d, "p[class^=a]", extensions=True) == ["one", "two"]
    assert _texts(d, "p[class$=b]", extensions=True) == ["two"]
    assert _texts(d, "[data-v*=lo wo]", extensions=True) == ["three"]
    # quoted values and missing attribute
    assert _texts(d, 'p[class^="a b"]', extensions=True) == ["one"]
    assert _texts(d, "p[nope~=x]", extensions=True) == []


def test_attr_operators_legacy_fall_through():
    # without extensions the operator char stays in the parsed attr
    # NAME (reference behavior) and silently never matches
    d = HDoc(H)
    assert _texts(d, "p[class~=big]") == []
    assert _texts(d, "p[class^=a]") == []


def test_not_simple_compound():
    d = HDoc(H)
    assert _texts(d, "p:not(.a)", extensions=True) == ["two", "three"]
    assert _texts(d, "p:not(#x3)", extensions=True) == ["one", "two"]
    assert _texts(d, "p:not([data-v])", extensions=True) == ["one", "two"]
    # :not with an extension attr op inside
    assert _texts(d, "p:not([class~=big])", extensions=True) == [
        "two",
        "three",
    ]
    # unparseable / empty argument: no-op, not an error
    assert len(d.find("p:not()", extensions=True) or []) == 3
    # a pseudo-class or combinator inside :not is outside the simple-
    # compound subset: the candidates come back unchanged
    e = HDoc(b"<div><p>a</p><p></p></div>")
    assert len(e.find("p:not(:empty)", extensions=True) or []) == 2
    assert len(e.find("div:not(div span)", extensions=True) or []) == 1


def test_empty_pseudo():
    d = HDoc(H)
    r = d.find("span:empty", extensions=True)
    # the truly-empty span and the comment-only span; the
    # whitespace-text span is NOT empty (CSS semantics)
    assert len(r) == 2
    assert len(d.find("br:empty", extensions=True)) == 1
    assert d.find("ul:empty", extensions=True) is None


def test_nth_child():
    d = HDoc(H)
    assert _texts(d, "li:nth-child(odd)", extensions=True) == ["1", "3", "5"]
    assert _texts(d, "li:nth-child(even)", extensions=True) == ["2", "4"]
    assert _texts(d, "li:nth-child(2n)", extensions=True) == ["2", "4"]
    assert _texts(d, "li:nth-child(3)", extensions=True) == ["3"]
    assert _texts(d, "li:nth-child(n+4)", extensions=True) == ["4", "5"]
    assert _texts(d, "li:nth-child(-n+2)", extensions=True) == ["1", "2"]
    assert _texts(d, "li:nth-child(2n+1)", extensions=True) == ["1", "3", "5"]
    # junk argument matches nothing (documented)
    assert d.find("li:nth-child(x)", extensions=True) is None


def test_legacy_pseudo_fall_through_unchanged():
    # reference TODO pseudos still fall through silently by default
    d = HDoc(H)
    assert _texts(d, "li:nth-child(2n)") == ["1", "2", "3", "4", "5"]
    assert _texts(d, "p:not(.a)") == ["one", "two", "three"]
    assert len(d.find("span:empty") or []) == 3


def test_extensions_compose_with_reference_grammar():
    d = HDoc(H)
    # combinators + positional pseudos still work alongside extensions
    assert _texts(d, "ul > li:nth-child(even):first", extensions=True) == [
        "2"
    ]
    assert _texts(d, "div p:not(.big):lt(1)", extensions=True) == ["two"]


def test_element_find_threads_extensions():
    d = HDoc(H)
    ul = d.find("ul")
    assert [e.text() for e in ul.find("li:nth-child(odd)", extensions=True)] == [
        "1",
        "3",
        "5",
    ]


def test_extension_partition_laws():
    """Algebraic properties over a generated page: :not complements,
    nth-child(odd|even) partitions, ^=/$= are subsets of *=."""
    import random

    rng = random.Random(7)
    parts = []
    for i in range(60):
        cls = rng.choice(["alpha", "beta", "gamma", "alpha beta"])
        val = rng.choice(["xy", "xyz", "zxy", "wxy"])
        parts.append(f'<p class="{cls}" data-t="{val}">t{i}</p>')
    d = HDoc(("<div>" + "".join(parts) + "</div>").encode())

    def idset(sel):
        r = d.find(sel, extensions=True)
        return set(r.ids) if r else set()

    allp = idset("p")
    assert len(allp) == 60
    # :not complement
    assert idset("p:not(.alpha)") == allp - idset("p.alpha")
    assert idset("p:not([data-t$=z])") == allp - idset("p[data-t$=z]")
    # nth-child partition
    odd, even = idset("p:nth-child(odd)"), idset("p:nth-child(even)")
    assert odd | even == allp and not (odd & even)
    assert len(odd) == 30 and len(even) == 30
    # prefix/suffix are substrings
    assert idset("p[data-t^=xy]") <= idset("p[data-t*=xy]")
    assert idset("p[data-t$=xy]") <= idset("p[data-t*=xy]")
    # token match equals class selector semantics on the class attr
    assert idset("p[class~=beta]") == idset("p.beta")
