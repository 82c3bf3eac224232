"""HTML tag vocabulary.

Mirrors the closed tag enumeration the reference exposes as matcher
constants (``include/daw/gumbo_pp/gumbo_matchers.h:926-1077``, one
constant per ``GumboTag``).  The names are the public WHATWG HTML tag
set (plus the legacy/obsolete tags the HTML5 parsing algorithm still
recognizes); ids are our own dense dictionary — only names are part of
the engine contract.  Unknown tags map to ``TAG_UNKNOWN`` and keep
their original name string, mirroring ``GUMBO_TAG_UNKNOWN``.
"""

from __future__ import annotations

TAG_NAMES = [
    "html", "head", "title", "base", "link", "meta", "style", "script",
    "noscript", "template", "body", "article", "section", "nav", "aside",
    "h1", "h2", "h3", "h4", "h5", "h6", "hgroup", "header", "footer",
    "address", "p", "hr", "pre", "blockquote", "ol", "ul", "li", "dl",
    "dt", "dd", "figure", "figcaption", "main", "div", "a", "em", "strong",
    "small", "s", "cite", "q", "dfn", "abbr", "data", "time", "code",
    "var", "samp", "kbd", "sub", "sup", "i", "b", "u", "mark", "ruby",
    "rt", "rp", "bdi", "bdo", "span", "br", "wbr", "ins", "del", "image",
    "img", "iframe", "embed", "object", "param", "video", "audio",
    "source", "track", "canvas", "map", "area", "math", "mi", "mo", "mn",
    "ms", "mtext", "mglyph", "malignmark", "annotation-xml", "svg",
    "foreignobject", "desc", "table", "caption", "colgroup", "col",
    "tbody", "thead", "tfoot", "tr", "td", "th", "form", "fieldset",
    "legend", "label", "input", "button", "select", "datalist",
    "optgroup", "option", "textarea", "keygen", "output", "progress",
    "meter", "details", "summary", "menu", "menuitem", "applet",
    "acronym", "bgsound", "dir", "frame", "frameset", "noframes",
    "isindex", "listing", "xmp", "nextid", "noembed", "plaintext", "rb",
    "strike", "basefont", "big", "blink", "center", "font", "marquee",
    "multicol", "nobr", "spacer", "tt", "rtc",
]

TAG_IDS: dict[str, int] = {name: i for i, name in enumerate(TAG_NAMES)}
TAG_UNKNOWN = len(TAG_NAMES)

# SVG tag-name case adjustments (WHATWG "parsing tokens in foreign
# content"); the DOM carries the camelCase form, the tag-id dictionary
# stays lowercase (gumbo's normalized tagnames are lowercase — the
# camelCase alias maps to the same id where one exists).
SVG_TAG_CASE: dict[str, str] = {
    t.lower(): t
    for t in (
        "altGlyph altGlyphDef altGlyphItem animateColor animateMotion "
        "animateTransform clipPath feBlend feColorMatrix "
        "feComponentTransfer feComposite feConvolveMatrix "
        "feDiffuseLighting feDisplacementMap feDistantLight feDropShadow "
        "feFlood feFuncA feFuncB feFuncG feFuncR feGaussianBlur feImage "
        "feMerge feMergeNode feMorphology feOffset fePointLight "
        "feSpecularLighting feSpotLight feTile feTurbulence "
        "foreignObject glyphRef linearGradient radialGradient textPath"
    ).split()
}
for _lower, _camel in SVG_TAG_CASE.items():
    if _lower in TAG_IDS:
        TAG_IDS[_camel] = TAG_IDS[_lower]

# SVG attribute case adjustments (same spec section).
SVG_ATTR_CASE: dict[str, str] = {
    a.lower(): a
    for a in (
        "attributeName attributeType baseFrequency baseProfile calcMode "
        "clipPathUnits diffuseConstant edgeMode filterUnits glyphRef "
        "gradientTransform gradientUnits kernelMatrix kernelUnitLength "
        "keyPoints keySplines keyTimes lengthAdjust limitingConeAngle "
        "markerHeight markerUnits markerWidth maskContentUnits maskUnits "
        "numOctaves pathLength patternContentUnits patternTransform "
        "patternUnits pointsAtX pointsAtY pointsAtZ preserveAlpha "
        "preserveAspectRatio primitiveUnits refX refY repeatCount "
        "repeatDur requiredExtensions requiredFeatures specularConstant "
        "specularExponent spreadMethod startOffset stdDeviation "
        "stitchTiles surfaceScale systemLanguage tableValues targetX "
        "targetY textLength viewBox viewTarget xChannelSelector "
        "yChannelSelector zoomAndPan"
    ).split()
}

# Start tags that break out of foreign (SVG/MathML) content back into
# HTML parsing (WHATWG foreign-content rules; <font> only with a
# color/face/size attribute).
FOREIGN_BREAKOUT = frozenset(
    "b big blockquote body br center code dd div dl dt em embed h1 h2 "
    "h3 h4 h5 h6 head hr i img li listing menu meta nobr ol p pre ruby "
    "s small span strong strike sub sup table tt u ul var".split()
)

MATHML_TEXT_IP = frozenset({"mi", "mo", "mn", "ms", "mtext"})
SVG_HTML_IP = frozenset({"foreignObject", "desc", "title"})

# HTML void elements (no end tag ever).
VOID_ELEMENTS = frozenset(
    "area base basefont bgsound br col embed frame hr img input keygen "
    "link meta param source track wbr".split()
)

# Raw-text elements: content is raw character data until the matching
# close tag; no entity decoding (tokenizer RAWTEXT/script-data states).
RAWTEXT_ELEMENTS = frozenset({"script", "style", "xmp", "iframe", "noembed", "noframes"})

# RCDATA elements: no child tags, but character references ARE decoded.
RCDATA_ELEMENTS = frozenset({"title", "textarea"})

# Start tags that close an open <p> element ("in body" insertion mode).
P_CLOSERS = frozenset(
    "address article aside blockquote center details dialog dir div dl "
    "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header "
    "hgroup hr listing main menu nav ol p plaintext pre section summary "
    "table ul xmp".split()
)

HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

TABLE_SECTIONS = frozenset({"tbody", "thead", "tfoot"})

# Scope boundaries for "has element in scope" checks (simplified from
# the WHATWG list: we do not track MathML/SVG integration points).
SCOPE_BOUNDARIES = frozenset({"html", "table", "td", "th", "caption", "applet", "object", "marquee", "template"})
