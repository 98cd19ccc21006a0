"""Tag/category constants for the HTML5 engine.

Re-expresses the reference's tag dictionary and UA style table
(/root/reference/lib/HTML5/DOM.pm:38-291, /root/reference/gen/tags_ua_style.c)
as plain Python data. Everything here derives from the public WHATWG HTML
spec plus the observable behavior of the reference.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Node types (DOM Level 1 subset supported by the reference, utils.h:126-139)
# ---------------------------------------------------------------------------
ELEMENT_NODE = 1
TEXT_NODE = 3
COMMENT_NODE = 8
DOCUMENT_NODE = 9
DOCTYPE_NODE = 10
FRAGMENT_NODE = 11

# ---------------------------------------------------------------------------
# Namespaces (reference: lib/HTML5/DOM.pm:294-303, DOM.xs:1404-1417)
# ---------------------------------------------------------------------------
NS_UNDEF = 0
NS_HTML = 1
NS_MATHML = 2
NS_SVG = 3
NS_XLINK = 4
NS_XML = 5
NS_XMLNS = 6
NS_ANY = 7

NAMESPACE_NAMES = {
    NS_UNDEF: "UNDEF",
    NS_HTML: "HTML",
    NS_MATHML: "MATHML",
    NS_SVG: "SVG",
    NS_XLINK: "XLINK",
    NS_XML: "XML",
    NS_XMLNS: "XMLNS",
    NS_ANY: "ANY",
}
NAMESPACE_IDS = {v: k for k, v in NAMESPACE_NAMES.items()}

#: ``str.translate`` table of ASCII lowercasing: the spec lowercases only
#: ASCII upper alpha in tag, attribute and DOCTYPE names and in its
#: ASCII case-insensitive compares (``str.lower`` also folds non-ASCII
#: letters, turning ``İ`` into two code points and the Kelvin sign into k)
ASCII_LOWER = {c: c + 32 for c in range(ord("A"), ord("Z") + 1)}

# ---------------------------------------------------------------------------
# Void elements (HTML spec; reference behavior DOM.xs:2145-2151)
# ---------------------------------------------------------------------------
VOID_TAGS = frozenset(
    """area base basefont bgsound br col embed frame hr img input keygen
    link meta param source track wbr""".split()
)

# ---------------------------------------------------------------------------
# Tokenizer raw-text modes
# ---------------------------------------------------------------------------
RAWTEXT_TAGS = frozenset("style xmp iframe noembed noframes noscript".split())
RCDATA_TAGS = frozenset("title textarea".split())
SCRIPT_TAG = "script"

# Elements whose text children serialize without escaping (WHATWG serializer)
LITERAL_TEXT_TAGS = frozenset(
    "style script xmp iframe noembed noframes plaintext".split()
)

# ---------------------------------------------------------------------------
# Tree-construction categories (WHATWG "special" set, formatting set)
# ---------------------------------------------------------------------------
SPECIAL_HTML = frozenset(
    """address applet area article aside base basefont bgsound blockquote
    body br button caption center col colgroup dd details dir div dl dt
    embed fieldset figcaption figure footer form frame frameset h1 h2 h3
    h4 h5 h6 head header hgroup hr html iframe img input keygen li link
    listing main marquee menu meta nav noembed noframes noscript object
    ol p param plaintext pre script search section select source style
    summary table tbody td template textarea tfoot th thead title tr
    track ul wbr xmp""".split()
)
SPECIAL_MATHML = frozenset("mi mo mn ms mtext annotation-xml".split())
SPECIAL_SVG = frozenset("foreignObject desc title".split())

FORMATTING_TAGS = frozenset(
    "a b big code em font i nobr s small strike strong tt u".split()
)

HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())

# in-body start tags that close an open <p> and insert a block (the same
# list closes blocks as end tags)
BLOCK_START = frozenset(
    """address article aside blockquote center details dialog dir div dl
    fieldset figcaption figure footer header hgroup main menu nav ol p
    search section summary ul""".split()
)

IMPLIED_END_TAGS = frozenset(
    "dd dt li optgroup option p rb rp rt rtc".split()
)
IMPLIED_END_TAGS_THOROUGH = IMPLIED_END_TAGS | frozenset(
    "caption colgroup tbody td tfoot th thead tr".split()
)

# Scope definitions (WHATWG "has an element in X scope")
SCOPE_BASE = frozenset(
    "applet caption html table td th marquee object template".split()
)
LIST_ITEM_SCOPE_EXTRA = frozenset(["ol", "ul"])
BUTTON_SCOPE_EXTRA = frozenset(["button"])
TABLE_SCOPE = frozenset(["html", "table", "template"])
SELECT_SCOPE_INVERT = frozenset(["optgroup", "option"])  # everything else ends scope

# ---------------------------------------------------------------------------
# UA display table — mirrors /root/reference/gen/tags_ua_style.c and the
# default INLINE fallback at /root/reference/utils.c:225-230.
# ---------------------------------------------------------------------------
DISPLAY_NONE = 0
DISPLAY_INLINE = 1
DISPLAY_BLOCK = 2
DISPLAY_INLINE_BLOCK = 3
DISPLAY_LIST_ITEM = 4
DISPLAY_TABLE = 5
DISPLAY_TABLE_CAPTION = 6
DISPLAY_TABLE_CELL = 7
DISPLAY_TABLE_COLUMN = 8
DISPLAY_TABLE_COLUMN_GROUP = 9
DISPLAY_TABLE_FOOTER_GROUP = 10
DISPLAY_TABLE_HEADER_GROUP = 11
DISPLAY_TABLE_ROW = 12
DISPLAY_TABLE_ROW_GROUP = 13
DISPLAY_RUBY = 14
DISPLAY_RUBY_BASE = 15
DISPLAY_RUBY_TEXT = 16
DISPLAY_RUBY_TEXT_CONTAINER = 17

DISPLAY_NAMES = {
    DISPLAY_NONE: "none",
    DISPLAY_INLINE: "inline",
    DISPLAY_BLOCK: "block",
    DISPLAY_INLINE_BLOCK: "inline-block",
    DISPLAY_LIST_ITEM: "list-item",
    DISPLAY_TABLE: "table",
    DISPLAY_TABLE_CAPTION: "table-caption",
    DISPLAY_TABLE_CELL: "table-cell",
    DISPLAY_TABLE_COLUMN: "table-column",
    DISPLAY_TABLE_COLUMN_GROUP: "table-column-group",
    DISPLAY_TABLE_FOOTER_GROUP: "table-footer-group",
    DISPLAY_TABLE_HEADER_GROUP: "table-header-group",
    DISPLAY_TABLE_ROW: "table-row",
    DISPLAY_TABLE_ROW_GROUP: "table-row-group",
    DISPLAY_RUBY: "ruby",
    DISPLAY_RUBY_BASE: "ruby-base",
    DISPLAY_RUBY_TEXT: "ruby-text",
    DISPLAY_RUBY_TEXT_CONTAINER: "ruby-text-container",
}

_BLOCK_TAGS = """article aside details div dt figcaption footer form header
hgroup html main nav section summary body p dl dd blockquote figure address
center h1 h2 h3 h4 h5 h6 xmp pre plaintext ul menu dir ol hr frameset
legend fieldset option optgroup""".split()

_NONE_TAGS = """link noframes base basefont datalist head meta script style
title noembed param template area rp""".split()

_INLINE_BLOCK_TAGS = "marquee select button progress meter textarea input".split()

UA_DISPLAY: dict[str, int] = {}
for _t in _BLOCK_TAGS:
    UA_DISPLAY[_t] = DISPLAY_BLOCK
for _t in _NONE_TAGS:
    UA_DISPLAY[_t] = DISPLAY_NONE
for _t in _INLINE_BLOCK_TAGS:
    UA_DISPLAY[_t] = DISPLAY_INLINE_BLOCK
UA_DISPLAY.update(
    {
        "table": DISPLAY_TABLE,
        "caption": DISPLAY_TABLE_CAPTION,
        "tr": DISPLAY_TABLE_ROW,
        "col": DISPLAY_TABLE_COLUMN,
        "colgroup": DISPLAY_TABLE_COLUMN_GROUP,
        "tbody": DISPLAY_TABLE_ROW_GROUP,
        "thead": DISPLAY_TABLE_HEADER_GROUP,
        "tfoot": DISPLAY_TABLE_FOOTER_GROUP,
        "td": DISPLAY_TABLE_CELL,
        "th": DISPLAY_TABLE_CELL,
        "li": DISPLAY_LIST_ITEM,
        "ruby": DISPLAY_RUBY,
        "rb": DISPLAY_RUBY_BASE,
        "rt": DISPLAY_RUBY_TEXT,
        "rtc": DISPLAY_RUBY_TEXT_CONTAINER,
    }
)


def ua_display(tag: str, ns: int = NS_HTML) -> int:
    """Default user-agent display for a tag (reference utils.c:225-230).

    The reference switches on ``node->tag_id`` only — tag ids are assigned
    by name regardless of namespace — so the lookup is deliberately
    namespace-agnostic: ``<title>`` inside ``<svg>`` is display:none and
    skipped by innerText exactly like a head ``<title>``.
    """
    return UA_DISPLAY.get(tag, DISPLAY_INLINE)


# ---------------------------------------------------------------------------
# Foreign-content adjustments (WHATWG tree construction)
# ---------------------------------------------------------------------------
SVG_TAG_ADJUSTMENTS = {
    "altglyph": "altGlyph",
    "altglyphdef": "altGlyphDef",
    "altglyphitem": "altGlyphItem",
    "animatecolor": "animateColor",
    "animatemotion": "animateMotion",
    "animatetransform": "animateTransform",
    "clippath": "clipPath",
    "feblend": "feBlend",
    "fecolormatrix": "feColorMatrix",
    "fecomponenttransfer": "feComponentTransfer",
    "fecomposite": "feComposite",
    "feconvolvematrix": "feConvolveMatrix",
    "fediffuselighting": "feDiffuseLighting",
    "fedisplacementmap": "feDisplacementMap",
    "fedistantlight": "feDistantLight",
    "fedropshadow": "feDropShadow",
    "feflood": "feFlood",
    "fefunca": "feFuncA",
    "fefuncb": "feFuncB",
    "fefuncg": "feFuncG",
    "fefuncr": "feFuncR",
    "fegaussianblur": "feGaussianBlur",
    "feimage": "feImage",
    "femerge": "feMerge",
    "femergenode": "feMergeNode",
    "femorphology": "feMorphology",
    "feoffset": "feOffset",
    "fepointlight": "fePointLight",
    "fespecularlighting": "feSpecularLighting",
    "fespotlight": "feSpotLight",
    "fetile": "feTile",
    "feturbulence": "feTurbulence",
    "foreignobject": "foreignObject",
    "glyphref": "glyphRef",
    "lineargradient": "linearGradient",
    "radialgradient": "radialGradient",
    "textpath": "textPath",
}

SVG_ATTR_ADJUSTMENTS = {
    "attributename": "attributeName",
    "attributetype": "attributeType",
    "basefrequency": "baseFrequency",
    "baseprofile": "baseProfile",
    "calcmode": "calcMode",
    "clippathunits": "clipPathUnits",
    "diffuseconstant": "diffuseConstant",
    "edgemode": "edgeMode",
    "filterunits": "filterUnits",
    "glyphref": "glyphRef",
    "gradienttransform": "gradientTransform",
    "gradientunits": "gradientUnits",
    "kernelmatrix": "kernelMatrix",
    "kernelunitlength": "kernelUnitLength",
    "keypoints": "keyPoints",
    "keysplines": "keySplines",
    "keytimes": "keyTimes",
    "lengthadjust": "lengthAdjust",
    "limitingconeangle": "limitingConeAngle",
    "markerheight": "markerHeight",
    "markerunits": "markerUnits",
    "markerwidth": "markerWidth",
    "maskcontentunits": "maskContentUnits",
    "maskunits": "maskUnits",
    "numoctaves": "numOctaves",
    "pathlength": "pathLength",
    "patterncontentunits": "patternContentUnits",
    "patterntransform": "patternTransform",
    "patternunits": "patternUnits",
    "pointsatx": "pointsAtX",
    "pointsaty": "pointsAtY",
    "pointsatz": "pointsAtZ",
    "preservealpha": "preserveAlpha",
    "preserveaspectratio": "preserveAspectRatio",
    "primitiveunits": "primitiveUnits",
    "refx": "refX",
    "refy": "refY",
    "repeatcount": "repeatCount",
    "repeatdur": "repeatDur",
    "requiredextensions": "requiredExtensions",
    "requiredfeatures": "requiredFeatures",
    "specularconstant": "specularConstant",
    "specularexponent": "specularExponent",
    "spreadmethod": "spreadMethod",
    "startoffset": "startOffset",
    "stddeviation": "stdDeviation",
    "stitchtiles": "stitchTiles",
    "surfacescale": "surfaceScale",
    "systemlanguage": "systemLanguage",
    "tablevalues": "tableValues",
    "targetx": "targetX",
    "targety": "targetY",
    "textlength": "textLength",
    "viewbox": "viewBox",
    "viewtarget": "viewTarget",
    "xchannelselector": "xChannelSelector",
    "ychannelselector": "yChannelSelector",
    "zoomandpan": "zoomAndPan",
}

# foreign attributes → (prefix, localname, namespace)
FOREIGN_ATTR_ADJUSTMENTS = {
    "xlink:actuate": NS_XLINK,
    "xlink:arcrole": NS_XLINK,
    "xlink:href": NS_XLINK,
    "xlink:role": NS_XLINK,
    "xlink:show": NS_XLINK,
    "xlink:title": NS_XLINK,
    "xlink:type": NS_XLINK,
    "xml:base": NS_XML,
    "xml:lang": NS_XML,
    "xml:space": NS_XML,
    "xmlns": NS_XMLNS,
    "xmlns:xlink": NS_XMLNS,
}

MATHML_TEXT_INTEGRATION = frozenset("mi mo mn ms mtext".split())
HTML_INTEGRATION_SVG = frozenset("foreignObject desc title".split())

# start tags that break out of foreign content back to HTML rules
# (<font> also breaks out when it carries color/face/size)
FOREIGN_BREAKOUT = frozenset(
    """b big blockquote body br center code dd div dl dt em embed h1 h2 h3
    h4 h5 h6 head hr i img li listing menu meta nobr ol p pre ruby s small
    span strong strike sub sup table tt u ul var""".split()
)

MATHML_ATTR_ADJUSTMENTS = {"definitionurl": "definitionURL"}


def adjust_foreign_attrs(attr_list, svg: bool = False,
                         mathml: bool = False) -> dict:
    """Token attributes of a foreign element as a dict, with the SVG or
    MathML case adjustments applied; the first of duplicate names wins."""
    attrs: dict = {}
    for k, v in attr_list:
        if svg and k in SVG_ATTR_ADJUSTMENTS:
            k = SVG_ATTR_ADJUSTMENTS[k]
        elif mathml and k in MATHML_ATTR_ADJUSTMENTS:
            k = MATHML_ATTR_ADJUSTMENTS[k]
        # foreign xlink:/xml:/xmlns attributes keep their qualified name
        if k not in attrs:
            attrs[k] = v
    return attrs
