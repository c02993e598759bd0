"""Compiled evaluators for the common XPath subset, on ElementTree.

Why: Spark's built-in ``xpath()`` runs javax.xml.xpath, which costs
~1-3 ms per evaluation (DocumentBuilder + XPath re-evaluation per row) —
it was 85% of extraction wall time. Real extraction configs (incl. both
reference configs) overwhelmingly use the shape
``//el/sub/.../(@attr | text())`` with simple predicates per step,
which evaluates in ~1 µs on an already-parsed ElementTree. This module
compiles that subset; anything else returns ``None`` and the engine
falls back to the general JVM ``xpath()`` path
(``extract.project_cells``), keeping full XPath 1.0 compatibility.

On the fused path, a rule that takes only the start tag and reads only
the root's attributes (every XPath a :class:`Shape` ``//el/@attr``)
skips the tree altogether (``extract._start_tag_plan``).

Subset grammar::

    expr     := path ('|' path)*          -- top-level XPath 1.0 union
    path     := step_seq terminal?
              | terminal                  -- bare '//text()' etc.
    step_seq := (('/' | '//' | '') step) step_chain*
                 -- a RELATIVE first step (no leading slash) is the
                 -- child axis from the document node, exactly javax:
                 -- 'store/shelf' ≡ '/store/shelf' (verified; NOT a
                 -- descendant search)
    step_chain := ('/' | '//') step
    step     := (qname | '*') pred*
              | '..'                      -- parent::node(); NO
                 -- predicates ('..[p]' is invalid XPath 1.0 — javax
                 -- throws; use parent::*[p])
              | axis '::' (qname | '*') pred*
    axis     := 'parent' | 'following-sibling' | 'preceding-sibling'
              | 'ancestor' | 'ancestor-or-self' | 'descendant'
              | 'following' | 'preceding'
                 -- reverse axes (preceding-sibling, ancestor,
                 -- ancestor-or-self, preceding) take positional
                 -- predicates with XPath proximity semantics:
                 -- position() counts AWAY from the context node
                 -- (preceding::x[1] = nearest preceding x).
                 -- axis steps accept only the '/' separator —
                 -- '//parent::x' / '//ancestor::x' / '//following::x'
                 -- are OUT of subset because
                 -- descendant-or-self::node() includes text nodes,
                 -- whose parents/siblings/followers the element-only
                 -- model cannot reach (verified against javax; falls
                 -- back). EXCEPTION: '//descendant::x' IS in subset —
                 -- a text node's descendant set is empty, so the
                 -- element-only expansion is exact (javax-verified).
    pred     := '[' digits ']' | '[last()]'
              | '[' or_expr ']'           -- predicates CHAIN: each
                 -- filters the survivors of the previous one, and
                 -- position()/last() inside predicate k index the
                 -- list surviving predicates 1..k-1 (javax-verified:
                 -- //book[@cat='f'][2] ≠ //book[2][@cat='f'])
    or_expr  := and_expr ('or' and_expr)*     -- 'and' binds tighter
    and_expr := unary ('and' unary)*
    unary    := 'not(' or_expr ')'            -- boolean negation
              | '(' or_expr ')'               -- grouping
              | atom
    atom     := '@' qname                     -- attribute exists
              | '@' qname ('='|'!=') quoted   -- string comparison
              | '@' qname num_op number       -- XPath number() rules
              | rel_path                      -- nodeset exists
              | rel_path ('='|'!=') quoted
                 -- EXISTENTIAL over the reached nodeset: true if ANY
                 -- reached node's string-value (all descendant text;
                 -- the attribute's value for a '/@attr' terminal)
                 -- compares true — XPath 1.0 nodeset comparison
              | rel_path num_op number        -- existential numeric
              | 'position()' num_op digits
              | 'position()' '=' 'last()'
              | ('contains' | 'starts-with') '(@' qname ',' quoted ')'
    rel_path := (qname | '*') ('/' (qname | '*'))* ('/@' qname)?
                 -- a relative CHILD-chain location path from the
                 -- context node ([author/name='Ann'], [book/@cat]).
                 -- './/'-leading predicate paths are OUT of subset:
                 -- javax matches them by FULL node name on
                 -- prefix-carrying documents (probed: //a[.//b] finds
                 -- nothing when the doc writes x:b, while //a[b] and
                 -- every main-path step local-name match) — JVM
                 -- fallback keeps such configs javax bug-for-bug.
    num_op   := '=' | '!=' | '<' | '<=' | '>' | '>='
    terminal := '/text()' | '//text()'
              | '/text()' '[' (digits | 'last()') ']'
              | '//text()' '[' (digits | 'last()') ']'
                 -- positional text(): the n-th DIRECT text node of
                 -- each owner element ('//text()[1]' = first text
                 -- child of EVERY element in the subtree, per javax)
              | '/@' qname
              | '/@*'                     -- every attribute of each
                 -- matched element, NAME-SORTED (javax NamedNodeMap
                 -- returns attributes sorted by qualified name, NOT
                 -- document order — verified: z="1" a="2" m="3" emits
                 -- a,m,z; Z="9" b="8" emits Z,b by ASCII). xmlns
                 -- declarations are EXCLUDED (namespace nodes, not
                 -- attribute nodes, per XPath 1.0 — verified).
                 -- Namespaced attributes sort by their ElementTree
                 -- '{uri}local' key here vs 'prefix:local' in javax;
                 -- both orderings place them after plain ASCII-letter
                 -- names in the common case (documented approximation
                 -- — the prefix spelling is unrecoverable post-parse).

Out of subset (JVM fallback): '//' before any axis step except
descendant:: (text-node contexts — incl. '//.' / '//self::x', whose
text-node string values the element model cannot emit); positional
predicate CHAINS on reverse axes (the Xalan doc-order-inside-a-chain
quirk — see _parse_path); './/'-leading predicate paths (javax
full-name-matches them on prefixed docs); absolute paths inside
predicates; nested bracket predicates; literal-vs-literal
comparisons; ``count()`` and other non-nodeset result types.
``..[pred]`` / ``.[pred]`` are not fallback cases but INVALID
XPath 1.0 (AbbreviatedStep takes no predicates — javax throws);
they are rejected here too.

Union semantics (javax, cross-validated): branches evaluate
independently; the combined NODESET concatenates in GLOBAL document
order with duplicates held once, and an attribute node sorts
immediately after its owner element, before the element's text and
children; multiple selected attributes of ONE element emit
name-sorted (the NamedNodeMap order above, verified:
``//b[1]/@id | //b[1]/@cat`` emits cat's value first).

Semantics matched to the general path (Spark's ``xpath``, verified on
pyspark 4.1.2) and to the reference's javax NODESET evaluation
(``XmlExtractor.java:100-109``):
- ``//`` before any name step (not just the first) is the
  descendant-or-self axis: ``/store//book`` matches books at any depth
  under the root. From the document node it matches the fragment root
  element too (ElementTree's ``.//`` alone does not); a leading single
  ``/`` is the document's child axis and matches only the root
  element, exactly like javax — NOT a descendant search.
- ``[n]`` keeps the n-th matching node within each CONTEXT (javax
  ``book[2]`` = second book of each parent, not the second book
  overall; ``descendant::book[2]`` = second descendant book of each
  context); results concatenate in document order with duplicates
  removed, as a javax NODESET does.
- A bare element result contributes its subtree's text — precisely:
  the distinct text nodes under all matched elements, document order,
  each text node once (``//expr//text()`` semantics, enforced on the
  general path by :func:`normalize_for_jvm`). This is a DELIBERATE
  defect fix: the reference appends ``Node.getNodeValue()`` per
  matched node (``XmlExtractor.java:108``), which is null for element
  nodes, so its output cell is the literal string ``"null"`` per
  match — meaningless; Spark's Hive-style ``xpath()`` instead yields
  null entries that ``array_join`` drops (empty cell). We emit the
  XPath string value, the only one of the three a user could want.
  ``text()`` selects the element's direct text nodes (text + child
  tails); ``@attr`` the attribute value. All matched nodes' values
  concatenate with no separator.
- ``[@attr='v']`` keeps a step's matches whose attribute equals the
  literal exactly (javax string comparison); a missing attribute never
  matches.
- **Namespaces**: name tests match by LOCAL NAME, ignoring both the
  document's namespace (ElementTree's ``{uri}local`` expansion) and any
  prefix written in the config step (``bk:book`` ≡ ``book``). This is
  exactly what Spark's ``xpath`` does on namespaced documents (an
  unprefixed step matches elements in any namespace), so the fused and
  general paths agree; the reference's javax evaluation is
  namespace-unaware in the same way on non-namespace-aware
  DocumentBuilders.
"""

from __future__ import annotations

import re
from typing import Callable, NamedTuple
from xml.etree.ElementTree import Element

_NAME = r"[A-Za-z_][\w.-]*"
_QNAME = rf"(?:{_NAME}:)?{_NAME}"
_NUM = r"-?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)"

# longest-alternative-first: 'ancestor-or-self' before 'ancestor',
# '*-sibling' before the bare full-document axes
_AXIS_RE = re.compile(
    r"(following-sibling|preceding-sibling|ancestor-or-self"
    r"|ancestor|descendant|following|preceding|parent|self)::"
)
_AXIS_KIND = {
    "parent": "parent",
    "following-sibling": "fsib",
    "preceding-sibling": "psib",
    "ancestor": "anc",
    "ancestor-or-self": "aos",
    "descendant": "descnt",
    "following": "fol",
    "preceding": "pre",
    "self": "self",
}
# reverse axes: candidates proximity-ordered (nearest the context node
# first) before positional predicates apply
_REVERSE_KINDS = frozenset({"psib", "anc", "aos", "pre"})
_NAME_RE = re.compile(rf"({_QNAME}|\*)")

# XPath 1.0 number(): optional sign, digits with optional fraction —
# NO exponent notation (number('1e3') is NaN in XPath, unlike Python).
_XPATH_NUM_RE = re.compile(rf"^\s*{_NUM}\s*$")


class _Step(NamedTuple):
    name: str
    axis: str  # "child" | "desc" (the separator written before the step)
    kind: str  # child|parent|fsib|psib|anc|aos|descnt|fol|pre
    preds: tuple = ()  # parsed predicate chain, applied sequentially


def _xpath_number(s: str | None) -> float | None:
    """XPath 1.0 number() of a string: None ⇒ NaN (modelled as None,
    so every comparison is false except ``!=``)."""
    if s is None or _XPATH_NUM_RE.match(s) is None:
        return None
    return float(s)


def _local(name: str) -> str:
    """Local part of an ElementTree tag ({uri}local) or config step
    (prefix:local)."""
    if name.startswith("{"):
        return name.rsplit("}", 1)[1]
    if ":" in name:
        return name.rsplit(":", 1)[1]
    return name


# ---------------------------------------------------------------------------
# predicate parsing
#
# Each step carries a CHAIN of predicates; a predicate is one of
#   ('n', k)           -- [k]
#   ('last',)          -- [last()]
#   ('bool', expr)     -- boolean expression TREE
# where expr is ('or', [exprs]) | ('and', [exprs]) | ('not', expr) | atom
# and an atom is one of
#   ('pos', op, k) ('poslast',)
#   ('attr_ex', a) ('attr_str', a, op, val, q) ('attr_num', a, op, lit)
#   ('fn', fn, a, val, q)
#   ('path', desc, steps, attr, cmp) -- relative location path from the
#       context node: optional leading './/' (descendant-anywhere first
#       step), a child chain of name tests, an optional '/@attr'
#       terminal, and an optional comparison cmp = None |
#       ('str', op, val, q) | ('num', op, lit). All comparisons are
#       EXISTENTIAL over the reached nodeset (XPath 1.0 nodeset
#       comparison); the single-step no-attr form covers the plain
#       child-element predicates ([title], [price>30], [title='X']).
# (q = the quote character the config wrote, preserved for re-rendering)
# ---------------------------------------------------------------------------

_POS_RE = re.compile(r"position\(\)\s*(!=|<=|>=|<|>|=)\s*([0-9]+)$")
_POSLAST_RE = re.compile(r"position\(\)\s*=\s*last\(\)$")
_FN_RE = re.compile(
    rf"(contains|starts-with)\(\s*@({_QNAME})\s*,\s*"
    rf"(?:'([^']*)'|\"([^\"]*)\")\s*\)$"
)
_ATTR_EX_RE = re.compile(rf"@({_QNAME})$")
_ATTR_STR_RE = re.compile(
    rf"@({_QNAME})\s*(!=|=)\s*(?:'([^']*)'|\"([^\"]*)\")$"
)
_ATTR_NUM_RE = re.compile(rf"@({_QNAME})\s*(!=|<=|>=|<|>|=)\s*({_NUM})$")
# Predicate paths are CHILD chains only. './/' (descendant inside a
# predicate) is OUT of subset: javax matches it by FULL node name on
# prefix-carrying documents (probed: //a[.//b] finds nothing when the
# doc writes x:b, while //a[b] and every main-path step local-name
# match) — namespace-inconsistent with the rest of its own evaluation,
# so such configs take the JVM path and get javax bug-for-bug.
_PATH_RE = re.compile(
    rf"({_QNAME}|\*)((?:/(?:{_QNAME}|\*))*)(/@{_QNAME})?"
    rf"\s*(?:(!=|<=|>=|<|>|=)\s*(?:'([^']*)'|\"([^\"]*)\"|({_NUM})))?$"
)


def _parse_atom(a: str) -> tuple | None:
    a = a.strip()
    m = _POSLAST_RE.match(a)
    if m:
        return ("poslast",)
    m = _POS_RE.match(a)
    if m:
        return ("pos", m.group(1), int(m.group(2)))
    m = _FN_RE.match(a)
    if m:
        val = m.group(3) if m.group(3) is not None else m.group(4)
        q = "'" if m.group(3) is not None else '"'
        return ("fn", m.group(1), _local(m.group(2)), val, q)
    m = _ATTR_STR_RE.match(a)
    if m:
        val = m.group(3) if m.group(3) is not None else m.group(4)
        q = "'" if m.group(3) is not None else '"'
        return ("attr_str", _local(m.group(1)), m.group(2), val, q)
    m = _ATTR_NUM_RE.match(a)
    if m:
        return ("attr_num", _local(m.group(1)), m.group(2), m.group(3))
    m = _ATTR_EX_RE.match(a)
    if m:
        return ("attr_ex", _local(m.group(1)))
    if a in ("last()", "position()"):
        return None  # bare number-typed functions: not boolean atoms
    m = _PATH_RE.match(a)
    if m:
        steps = tuple(
            _local(p) for p in ([m.group(1)] + (m.group(2) or "").split("/"))
            if p
        )
        attr = _local(m.group(3)[2:]) if m.group(3) else None
        op = m.group(4)
        if op is None:
            cmp = None
        elif m.group(7) is not None:
            cmp = ("num", op, m.group(7))
        else:
            if op not in ("=", "!="):
                return None  # <,> on strings: number coercion, out
            val = m.group(5) if m.group(5) is not None else m.group(6)
            q = "'" if m.group(5) is not None else '"'
            cmp = ("str", op, val, q)
        return ("path", False, steps, attr, cmp)
    return None


class _BoolParser:
    """Recursive-descent parser for predicate boolean expressions:
    or/and with XPath precedence ('and' binds tighter), parenthesized
    groups, and not(...). Atom text is scanned with paren/quote
    tracking (atoms themselves contain parens: contains(...),
    position()). 'or'/'and' are treated as operators only at binary
    position, so elements NAMED or/and still parse as name tests."""

    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def _ws(self) -> None:
        while self.i < len(self.s) and self.s[self.i].isspace():
            self.i += 1

    def _kw(self, kw: str) -> bool:
        self._ws()
        j = self.i + len(kw)
        if self.s[self.i : j] != kw:
            return False
        if j < len(self.s) and (self.s[j].isalnum() or self.s[j] in "_.-:"):
            return False  # prefix of a longer name
        self.i = j
        return True

    def parse_or(self) -> tuple | None:
        parts = [self.parse_and()]
        if parts[0] is None:
            return None
        while self._kw("or"):
            nxt = self.parse_and()
            if nxt is None:
                return None
            parts.append(nxt)
        return parts[0] if len(parts) == 1 else ("or", parts)

    def parse_and(self) -> tuple | None:
        parts = [self.parse_unary()]
        if parts[0] is None:
            return None
        while self._kw("and"):
            nxt = self.parse_unary()
            if nxt is None:
                return None
            parts.append(nxt)
        return parts[0] if len(parts) == 1 else ("and", parts)

    def parse_unary(self) -> tuple | None:
        self._ws()
        if self._kw("not"):
            self._ws()
            if self.i >= len(self.s) or self.s[self.i] != "(":
                return None
            self.i += 1
            inner = self.parse_or()
            self._ws()
            if inner is None or self.i >= len(self.s) or self.s[self.i] != ")":
                return None
            self.i += 1
            return ("not", inner)
        if self.i < len(self.s) and self.s[self.i] == "(":
            self.i += 1
            inner = self.parse_or()
            self._ws()
            if inner is None or self.i >= len(self.s) or self.s[self.i] != ")":
                return None
            self.i += 1
            return inner
        return self._atom_chunk()

    def _atom_chunk(self) -> tuple | None:
        # consume atom text up to a depth-0 ')' or a binary keyword;
        # atoms contain their own parens (contains(...)) and quoted
        # strings (which may contain ')', 'and', anything)
        start = self.i
        depth = 0
        quote: str | None = None
        while self.i < len(self.s):
            ch = self.s[self.i]
            if quote is not None:
                if ch == quote:
                    quote = None
            elif ch in ("'", '"'):
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            elif ch.isspace() and depth == 0:
                j = self.i
                while j < len(self.s) and self.s[j].isspace():
                    j += 1
                if (
                    self.s[j : j + 3] == "or " or self.s[j : j + 2] == "or"
                    and not (
                        len(self.s) > j + 2
                        and (self.s[j + 2].isalnum() or self.s[j + 2] in "_.-:")
                    )
                ) or (
                    self.s[j : j + 4] == "and "
                    or self.s[j : j + 3] == "and"
                    and not (
                        len(self.s) > j + 3
                        and (self.s[j + 3].isalnum() or self.s[j + 3] in "_.-:")
                    )
                ):
                    break
            self.i += 1
        chunk = self.s[start : self.i]
        if not chunk.strip():
            return None
        return _parse_atom(chunk)


def _pred_positional(pred: tuple) -> bool:
    """True when the predicate depends on position()/last()."""
    if pred[0] in ("n", "last"):
        return True
    return _expr_positional(pred[1])


def _expr_positional(e: tuple) -> bool:
    if e[0] in ("or", "and"):
        return any(_expr_positional(c) for c in e[1])
    if e[0] == "not":
        return _expr_positional(e[1])
    return e[0] in ("pos", "poslast")


def _parse_pred_expr(s: str) -> tuple | None:
    """Parse one bracket group's content into a pred, or None."""
    t = s.strip()
    if re.fullmatch(r"[0-9]+", t):
        return ("n", int(t))
    if t == "last()":
        return ("last",)
    p = _BoolParser(t)
    expr = p.parse_or()
    p._ws()
    if expr is None or p.i != len(t):
        return None
    return ("bool", expr)


def _parse_preds(path: str, pos: int) -> tuple[tuple | None, int]:
    """Parse zero or more ``[...]`` groups at ``pos``. Returns
    (preds tuple, new pos) or (None, pos) when a group is malformed —
    the caller treats that as out-of-subset."""
    preds: list[tuple] = []
    while pos < len(path) and path[pos] == "[":
        j = pos + 1
        quote: str | None = None
        inner: str | None = None
        while j < len(path):
            ch = path[j]
            if quote is not None:
                if ch == quote:
                    quote = None
            elif ch in ("'", '"'):
                quote = ch
            elif ch == "[":
                return None, pos  # nested predicate: out of subset
            elif ch == "]":
                inner = path[pos + 1 : j]
                break
            j += 1
        if inner is None:
            return None, pos  # unbalanced bracket
        pred = _parse_pred_expr(inner)
        if pred is None:
            return None, pos
        preds.append(pred)
        pos = j + 1
    return tuple(preds), pos


def _parse_path(path: str) -> list[_Step] | None:
    """Parse the step part of a subset expression (no terminal) into
    steps, or None when out of grammar. A real tokenizer, not a split
    on '/': predicate values may contain slashes. An empty path parses
    to [] (the document context — bare-terminal expressions)."""
    steps: list[_Step] = []
    pos = 0
    while pos < len(path):
        if path.startswith("//", pos):
            axis, pos = "desc", pos + 2
        elif path.startswith("/", pos):
            axis, pos = "child", pos + 1
        elif pos == 0:
            # RELATIVE first step: the child axis from the document
            # node, identical to a leading '/' (javax-verified:
            # 'store/shelf' ≡ '/store/shelf'; 'shelf' from the
            # document matches nothing)
            axis = "child"
        else:
            return None
        # abbreviated parent step: '..' = parent::node() — matches the
        # DOCUMENT node from the root (unlike parent::*, whose
        # principal node type is element). '..[pred]' is INVALID
        # XPath 1.0 (AbbreviatedStep takes no predicates; javax
        # throws) — rejected, NOT fallback-eligible, but rejecting
        # here routes it to the JVM which raises the user-visible
        # error. '//' before a parent/sibling step is OUT of subset:
        # descendant-or-self::node() includes TEXT nodes, whose
        # parents/siblings our element-only expansion cannot model
        # (verified divergence vs javax) — JVM fallback.
        if path.startswith("..", pos):
            if axis == "desc":
                return None
            if pos + 2 < len(path) and path[pos + 2] != "/":
                return None  # '..[pred]' etc: invalid XPath
            steps.append(_Step("..", axis, "parent"))
            pos += 2
            continue
        # abbreviated self step: '.' = self::node() — matches the
        # document node too ('/./store' works from the document).
        # '.[pred]' is INVALID XPath 1.0 (AbbreviatedStep takes no
        # predicates — javax throws); '//' before '.' reaches
        # text-node contexts (their string values differ from the
        # element model) — both out of subset.
        if path.startswith(".", pos) and not path.startswith("..", pos):
            if axis == "desc":
                return None
            if pos + 1 < len(path) and path[pos + 1] != "/":
                return None  # '.[pred]' etc: invalid XPath
            steps.append(_Step(".", axis, "self"))
            pos += 1
            continue
        kind = "child"
        am = _AXIS_RE.match(path, pos)
        if am is not None:
            kind = _AXIS_KIND[am.group(1)]
            # '//' before an axis step reaches TEXT-node contexts the
            # element-only model cannot represent — except descendant::
            # (a text node's descendant set is empty, so the expansion
            # is exact; javax-verified)
            if axis == "desc" and kind != "descnt":
                return None
            pos = am.end()
        m = _NAME_RE.match(path, pos)
        if m is None:
            return None
        name = m.group(1)
        pos = m.end()
        preds, pos = _parse_preds(path, pos)
        if preds is None:
            return None
        if (
            kind in _REVERSE_KINDS
            and len(preds) >= 2
            and any(_pred_positional(p) for p in preds)
        ):
            # Xalan (the JDK XPath Spark runs) has an iterator-reset
            # bug on CHAINED predicates over reverse axes: a positional
            # predicate inside a chain is applied in DOCUMENT order
            # while the same predicate standalone uses proximity order
            # (observed: //d/preceding::d[last()] selects the farthest
            # d, but //d/preceding::d[last()][@id='1'] keeps the
            # NEAREST — internally inconsistent). Fall back so such
            # configs get javax's behavior bug-for-bug rather than a
            # spec-correct answer that diverges from the general path.
            return None
        steps.append(_Step(_local(name), axis, kind, preds))
    return steps


# ---------------------------------------------------------------------------
# terminal parsing
# ---------------------------------------------------------------------------

_TEXT_TERM_RE = re.compile(
    r"(//?)text\(\)(?:\[(?:([0-9]+)|(last\(\)))\])?$"
)
_ATTR_TERM_RE = re.compile(rf"/@(?:({_QNAME})|(\*))$")


def _split_terminal(expr: str) -> tuple[str, tuple | None]:
    """Split off the terminal. Terminal tuples:
    ('text', desc, sel) with sel None | ('n', k) | ('last',);
    ('attr', local) ; ('attr_star',)."""
    m = _TEXT_TERM_RE.search(expr)
    if m:
        desc = m.group(1) == "//"
        if m.group(2) is not None:
            sel: tuple | None = ("n", int(m.group(2)))
        elif m.group(3) is not None:
            sel = ("last",)
        else:
            sel = None
        return expr[: m.start()], ("text", desc, sel)
    m = _ATTR_TERM_RE.search(expr)
    if m:
        if m.group(2) is not None:
            return expr[: m.start()], ("attr_star",)
        return expr[: m.start()], ("attr", _local(m.group(1)))
    return expr, None


def _split_union(expr: str) -> list[str]:
    """Split a top-level XPath 1.0 union (``e1 | e2 | ...``) into its
    branch expressions. A real scanner, not ``str.split``: ``|`` inside
    a quoted predicate value must not split. Returns [expr] when there
    is no top-level union."""
    parts: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    for ch in expr:
        if quote is not None:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            buf.append(ch)
            quote = ch
        elif ch == "|":
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return [p.strip() for p in parts]


# ---------------------------------------------------------------------------
# re-rendering (strip_prefixes / normalize_for_jvm)
# ---------------------------------------------------------------------------

_KIND_PREFIX = {
    "child": "",
    "parent": "parent::",
    "fsib": "following-sibling::",
    "psib": "preceding-sibling::",
    "anc": "ancestor::",
    "aos": "ancestor-or-self::",
    "descnt": "descendant::",
    "fol": "following::",
    "pre": "preceding::",
    "self": "self::",
}


def _render_atom(a: tuple) -> str:
    k = a[0]
    if k == "pos":
        return f"position(){a[1]}{a[2]}"
    if k == "poslast":
        return "position()=last()"
    if k == "attr_ex":
        return f"@{a[1]}"
    if k == "attr_str":
        return f"@{a[1]}{a[2]}{a[4]}{a[3]}{a[4]}"
    if k == "attr_num":
        return f"@{a[1]}{a[2]}{a[3]}"
    if k == "fn":
        return f"{a[1]}(@{a[2]},{a[4]}{a[3]}{a[4]})"
    # path atom
    _, desc, steps, attr, cmp = a
    out = (".//" if desc else "") + "/".join(steps)
    if attr is not None:
        out += f"/@{attr}"
    if cmp is not None:
        if cmp[0] == "num":
            out += f"{cmp[1]}{cmp[2]}"
        else:
            out += f"{cmp[1]}{cmp[3]}{cmp[2]}{cmp[3]}"
    return out


def _render_expr(e: tuple, parent: str = "or") -> str:
    """Render a boolean expression tree back to predicate text;
    parenthesize whenever a looser operator nests under a tighter one
    (the parse would otherwise re-associate)."""
    if e[0] == "or":
        body = " or ".join(_render_expr(c, "or") for c in e[1])
        return f"({body})" if parent in ("and", "not") else body
    if e[0] == "and":
        body = " and ".join(_render_expr(c, "and") for c in e[1])
        return f"({body})" if parent == "not" else body
    if e[0] == "not":
        return f"not({_render_expr(e[1], 'or')})"
    return _render_atom(e)


def _render_pred(p: tuple) -> str:
    if p[0] == "n":
        return f"[{p[1]}]"
    if p[0] == "last":
        return "[last()]"
    return f"[{_render_expr(p[1])}]"


def _render_steps(steps: list[_Step]) -> str:
    out: list[str] = []
    for s in steps:
        sep = "//" if s.axis == "desc" else "/"
        if s.name == ".." and s.kind == "parent" and not s.preds:
            out.append(sep + "..")
            continue
        if s.name == "." and s.kind == "self" and not s.preds:
            out.append(sep + ".")
            continue
        out.append(
            sep
            + _KIND_PREFIX[s.kind]
            + s.name
            + "".join(_render_pred(p) for p in s.preds)
        )
    return "".join(out)


def _render_terminal(t: tuple | None) -> str:
    if t is None:
        return ""
    if t[0] == "attr":
        return f"/@{t[1]}"
    if t[0] == "attr_star":
        return "/@*"
    sep = "//" if t[1] else "/"
    if t[2] is None:
        return f"{sep}text()"
    if t[2] == ("last",):
        return f"{sep}text()[last()]"
    return f"{sep}text()[{t[2][1]}]"


def _strip_one(expr: str) -> str | None:
    """strip_prefixes for a single (non-union) branch; None = out of
    grammar. Renders canonical: relative paths come back absolute
    (identical nodeset from the document context, javax-verified)."""
    e = expr.strip()
    path, terminal = _split_terminal(e)
    steps = _parse_path(path)
    if steps is None or (not steps and terminal is None):
        return None
    return _render_steps(steps) + _render_terminal(terminal)


def strip_prefixes(expr: str) -> str:
    """Rewrite a subset-shaped expression to unprefixed local-name steps
    (``//bk:book/@ns:id`` → ``//book/@id``, predicates included, each
    branch of a top-level union independently); returns the input
    unchanged when any part is outside the subset grammar (never a
    blind regex over arbitrary XPath — predicate strings could contain
    colons).

    Used by the general JVM path so both paths share one namespace
    semantics: Spark's ``xpath`` matches unprefixed steps by local name
    in any namespace but matches *prefixed* steps against nothing;
    stripping the prefix makes a prefixed config behave identically on
    the fused and general paths.
    """
    stripped = [_strip_one(b) for b in _split_union(expr)]
    if any(s is None for s in stripped):
        return expr
    return " | ".join(stripped) if len(stripped) > 1 else stripped[0]


def normalize_for_jvm(expr: str) -> str:
    """Rewrite a subset expression for Spark's Hive-style ``xpath()`` so
    the general path shares the fused path's semantics: strip namespace
    prefixes (see :func:`strip_prefixes`) and, for a bare element
    terminal, append ``//text()`` — Hive's xpath yields null for
    element nodes (and the reference's ``getNodeValue()`` yields the
    literal string "null", ``XmlExtractor.java:108``), while our
    defined semantics is the subtree string value. Each branch of a
    top-level union is normalized independently. Out-of-subset
    expressions pass through unchanged (full XPath 1.0 on the JVM)."""

    def bare_element_fix(stripped_branch: str) -> str:
        _, terminal = _split_terminal(stripped_branch)
        if terminal is None:
            return stripped_branch + "//text()"
        return stripped_branch

    branches = _split_union(expr)
    stripped = [_strip_one(b) for b in branches]
    if any(s is None for s in stripped):
        # out-of-subset (any part): pass through byte-identical — full
        # XPath 1.0 on the JVM
        return expr
    return " | ".join(bare_element_fix(s) for s in stripped)


# ---------------------------------------------------------------------------
# evaluation
# ---------------------------------------------------------------------------


def _walk_texts(el: Element):
    """Yield (owner element, text) for every text node in document
    order — ``el.text`` is owned by ``el``; a child's ``tail`` is a
    text node of the PARENT in the XPath data model. An explicit stack,
    so nesting depth is bounded by memory, not the recursion limit."""
    if el.text:
        yield (el, el.text)
    stack = [(el, iter(el))]
    while stack:
        parent, kids = stack[-1]
        c = next(kids, None)
        if c is None:
            stack.pop()
            if stack and parent.tail:
                yield (stack[-1][0], parent.tail)
        elif isinstance(c.tag, str):
            if c.text:
                yield (c, c.text)
            stack.append((c, iter(c)))
        elif c.tail:
            yield (parent, c.tail)


def _get_attr_local(n: Element, attr: str) -> str | None:
    """Attribute lookup by local name (namespaced attrs match too)."""
    v = n.get(attr)
    if v is None:
        for k, kv in n.attrib.items():
            if k.startswith("{") and _local(k) == attr:
                v = kv
                break
    return v


def _name_ok(n: Element, name: str) -> bool:
    if not isinstance(n.tag, str):
        return False
    return name == "*" or _local(n.tag) == name


def _cmp_num(v: float, op: str, rhs: float) -> bool:
    return (
        v == rhs
        if op == "="
        else v != rhs
        if op == "!="
        else v < rhs
        if op == "<"
        else v <= rhs
        if op == "<="
        else v > rhs
        if op == ">"
        else v >= rhs
    )


def _atom_true(
    atom: tuple, ctx: Element | None, i: int, total: int, root: Element
) -> bool:
    k = atom[0]
    if k == "pos":
        return _cmp_num(float(i), atom[1], float(atom[2]))
    if k == "poslast":
        return i == total
    # the document node (ctx None) never reaches predicate evaluation
    # ('..' rejects predicates; name tests drop it) — the guards below
    # are belt-and-braces
    if k == "attr_ex":
        return ctx is not None and _get_attr_local(ctx, atom[1]) is not None
    if k == "attr_str":
        if ctx is None:
            return False
        raw = _get_attr_local(ctx, atom[1])
        if raw is None:
            return False  # empty nodeset: no node to compare
        return raw == atom[3] if atom[2] == "=" else raw != atom[3]
    if k == "attr_num":
        # XPath number comparison: number(@attr) OP literal. A MISSING
        # attribute is an empty nodeset — every comparison is false. A
        # present but non-numeric attribute is NaN — false for every
        # operator EXCEPT !=, which IEEE (and javax) makes true.
        if ctx is None:
            return False
        raw = _get_attr_local(ctx, atom[1])
        if raw is None:
            return False
        v = _xpath_number(raw)
        if v is None:
            return atom[2] == "!="
        return _cmp_num(v, atom[2], float(atom[3]))
    if k == "fn":
        # contains/starts-with over string(@attr): a missing attribute
        # is string(empty nodeset) = '' (XPath 1.0), so the functions
        # run on '' rather than short-circuiting.
        if ctx is None:
            return False
        raw = _get_attr_local(ctx, atom[2])
        raw = "" if raw is None else raw
        return atom[3] in raw if atom[1] == "contains" else raw.startswith(atom[3])
    # path atoms: a relative location path from the context node;
    # EXISTENTIAL over the reached nodeset (nodeset comparison, XPath
    # 1.0). The element string-value is ALL descendant text
    # concatenated; a '/@attr' terminal compares attribute values.
    # NaN/!= rules as above, applied per reached node.
    _, desc, steps, attr, cmp = atom
    # ``None`` = the document node (unreachable through the grammar —
    # '..' takes no predicates — but handled: its children are [root],
    # its descendants every element including root)
    cur: list = [ctx]
    first = True
    for name in steps:
        nxt: list = []
        for c in cur:
            if first and desc:
                pool = list(root.iter()) if c is None else list(c.iter())[1:]
            elif c is None:
                pool = [root]
            else:
                pool = [k2 for k2 in c if isinstance(k2.tag, str)]
            nxt.extend(d for d in pool if _name_ok(d, name))
        cur = nxt
        first = False
        if not cur:
            return False
    if attr is not None:
        values = [
            v for n2 in cur if (v := _get_attr_local(n2, attr)) is not None
        ]
    else:
        values = ["".join(n2.itertext()) for n2 in cur]
    if cmp is None:
        return bool(values)
    if cmp[0] == "str":
        op, val = cmp[1], cmp[2]
        return any(
            (sv == val) if op == "=" else (sv != val) for sv in values
        )
    op, lit = cmp[1], cmp[2]
    rhs = float(lit)
    for sv in values:
        v = _xpath_number(sv)
        if v is None:
            if op == "!=":
                return True
        elif _cmp_num(v, op, rhs):
            return True
    return False


def _expr_true(
    e: tuple, ctx: Element | None, i: int, total: int, root: Element
) -> bool:
    if e[0] == "or":
        return any(_expr_true(c, ctx, i, total, root) for c in e[1])
    if e[0] == "and":
        return all(_expr_true(c, ctx, i, total, root) for c in e[1])
    if e[0] == "not":
        return not _expr_true(e[1], ctx, i, total, root)
    return _atom_true(e, ctx, i, total, root)


def _apply_preds(
    matched: list, preds: tuple, root: Element
) -> list:
    """Apply a predicate chain sequentially: predicate k filters the
    survivors of predicates 1..k-1, and position()/last() inside it
    index THAT list (javax-verified: [@cat='f'][2] ≠ [2][@cat='f']).
    ``matched`` arrives axis-ordered (proximity order for reverse
    axes), so positional predicates count proximity positions."""
    for pred in preds:
        if not matched:
            return matched
        if pred[0] == "n":
            k = pred[1]
            matched = matched[k - 1 : k] if k >= 1 else []
        elif pred[0] == "last":
            matched = matched[-1:]
        else:
            total = len(matched)
            expr = pred[1]
            matched = [
                c
                for i, c in enumerate(matched, 1)
                if _expr_true(expr, c, i, total, root)
            ]
    return matched


def _eval_steps(root: Element, steps: list[_Step]) -> list[Element]:
    """Walk the step chain and return the matched elements, document-
    ordered. Contexts are elements; None is the document node (its only
    child is the fragment root, its descendant-or-self set is itself +
    every element). Each step expands the descendant axis first when
    written '//', then applies its own axis with the name test and the
    sequential predicate chain — javax's book[2] = second matching
    child of EACH parent. Dedup by identity: nested descendant contexts
    may reach one element twice, a NODESET holds it once."""
    contexts: list[Element | None] = [None]
    # parent map, built once when any step leaves the child axis;
    # ``None`` stands for the DOCUMENT node (root's parent) throughout.
    pm: dict[int, Element] | None = None
    if any(s.kind not in ("child", "descnt", "self") for s in steps):
        pm = {}
        for p in root.iter():
            for c in p:
                pm[id(c)] = p
    # document-order element list, for the full-document axes
    all_elems: list[Element] | None = None
    elem_pos: dict[int, int] | None = None
    if any(s.kind in ("fol", "pre") for s in steps):
        all_elems = [e for e in root.iter() if isinstance(e.tag, str)]
        elem_pos = {id(e): i for i, e in enumerate(all_elems)}
    for step in steps:
        if step.axis == "desc":
            expanded: list[Element | None] = []
            seen: set[int] = set()
            for ctx in contexts:
                ds = (
                    [None, *root.iter()] if ctx is None else list(ctx.iter())
                )
                for d in ds:
                    if id(d) not in seen:
                        seen.add(id(d))
                        expanded.append(d)
            contexts = expanded
        new: list[Element] = []
        seen2: set[int] = set()
        for ctx in contexts:
            if step.kind == "child":
                kids = [root] if ctx is None else list(ctx)
            elif step.kind == "descnt":
                # strict descendants; every element descends from the
                # document node (root included)
                kids = (
                    list(root.iter())
                    if ctx is None
                    else list(ctx.iter())[1:]
                )
            elif step.kind == "self":
                kids = [ctx]
            elif step.kind == "parent":
                if ctx is None:
                    kids = []  # the document has no parent
                elif ctx is root:
                    kids = [None]  # document node
                else:
                    kids = [pm[id(ctx)]]
            elif step.kind in ("anc", "aos"):
                # ancestor(-or-self) chain in DOCUMENT order: document
                # node first (dropped by the element name test), then
                # root, down to the parent (and self for -or-self) —
                # axis order is the reverse (below)
                if ctx is None:
                    kids = []
                else:
                    chain: list[Element | None] = (
                        [ctx] if step.kind == "aos" else []
                    )
                    p = ctx
                    while p is not root:
                        p = pm[id(p)]
                        chain.append(p)
                    chain.append(None)  # the document node
                    kids = chain[::-1]
            elif step.kind == "fol":
                # all elements strictly after ctx's subtree in document
                # order (descendants excluded — they are not following)
                if ctx is None:
                    kids = []
                else:
                    sub = {id(d) for d in ctx.iter()}
                    start = elem_pos[id(ctx)] + 1
                    kids = [
                        e for e in all_elems[start:] if id(e) not in sub
                    ]
            elif step.kind == "pre":
                # all elements strictly before ctx in document order,
                # ancestors excluded
                if ctx is None:
                    kids = []
                else:
                    anc_ids = set()
                    p = ctx
                    while p is not root:
                        p = pm[id(p)]
                        anc_ids.add(id(p))
                    kids = [
                        e
                        for e in all_elems[: elem_pos[id(ctx)]]
                        if id(e) not in anc_ids
                    ]
            else:  # sibling axes: children of the parent around ctx
                if ctx is None or ctx is root:
                    kids = []
                else:
                    sibs = list(pm[id(ctx)])
                    i = next(j for j, c in enumerate(sibs) if c is ctx)
                    kids = sibs[i + 1 :] if step.kind == "fsib" else sibs[:i]
            if step.name in ("..", "."):
                matched = kids  # parent::/self::node(): no name test
            else:
                matched = [
                    c for c in kids if c is not None and _name_ok(c, step.name)
                ]
            if step.kind in _REVERSE_KINDS:
                # REVERSE axes: proximity position counts away from the
                # context node, so positional predicates index the
                # reversed (nearest-first) candidate list; the final
                # global document-order sort restores NODESET order
                matched = matched[::-1]
            matched = _apply_preds(matched, step.preds, root)
            for node in matched:
                if id(node) not in seen2:
                    seen2.add(id(node))
                    new.append(node)
        contexts = new
        if not contexts:
            return []
    nodes = contexts
    if (
        any(s.axis == "desc" or s.kind != "child" for s in steps)
        and len(nodes) > 1
    ):
        # nested descendant matches (and parent/sibling/full-document
        # hops, whose results need not follow context order) can
        # interleave; a NODESET concatenates in document order — the
        # document node (None) precedes everything
        order = {id(el): i for i, el in enumerate(root.iter())}
        nodes = sorted(
            nodes, key=lambda n: -1 if n is None else order[id(n)]
        )
    return nodes


def _attr_key_local(n: Element, attr: str) -> str | None:
    """The ONE attribute key of ``n`` that ``@attr`` selects — exact
    key preferred, else the first namespaced spelling — the key-level
    twin of :func:`_get_attr_local`, so a branch selects the same
    single attribute node inside a union as it does standalone (two
    same-local-name spellings on one element must not both emit)."""
    if attr in n.attrib:
        return attr
    for k in n.attrib:
        if k.startswith("{") and _local(k) == attr:
            return k
    return None


def _direct_text_count(el: Element) -> int:
    n = 1 if el.text else 0
    for c in el:
        if c.tail:
            n += 1
    return n


def _owner_ids_for_text(
    nodes: list, root: Element, desc: bool
) -> set[int]:
    """Owner elements whose DIRECT text nodes a text() terminal
    selects: the matched elements ('/text()'), or every element of
    their subtrees ('//text()' — descendant-or-self text)."""
    if not desc:
        return {id(n) for n in nodes if n is not None}
    return {
        id(d)
        for n in nodes
        for d in (root.iter() if n is None else n.iter())
    }


def _parse_expr(expr: str) -> list[tuple[list[_Step], tuple]] | None:
    """``expr``'s union branches as (steps, terminal) pairs, or None when
    any branch is out of subset."""
    parsed: list[tuple[list[_Step], tuple]] = []
    for b in _split_union(expr.strip()):
        path, terminal = _split_terminal(b)
        steps = _parse_path(path)
        if steps is None or (not steps and terminal is None):
            return None
        if terminal is None:
            # bare element projection = subtree string value (see module
            # docstring: deliberate fix of the reference's "null" output)
            terminal = ("text", True, None)
        parsed.append((steps, terminal))
    return parsed


class Shape(NamedTuple):
    """A single-branch ``//a(/b)*/@attr`` path with no predicates,
    wildcards or axes. ``names`` and ``attr`` are local names."""

    names: tuple[str, ...]
    attr: str


def _shape(parsed: list[tuple[list[_Step], tuple]]) -> Shape | None:
    if len(parsed) != 1:
        return None
    steps, terminal = parsed[0]
    if terminal[0] != "attr":
        return None
    if not steps or steps[0].axis != "desc":
        return None
    for i, s in enumerate(steps):
        if (
            s.kind != "child" or s.preds or s.name == "*"
            or (i and s.axis != "child")
        ):
            return None
    return Shape(tuple(s.name for s in steps), terminal[1])


def shape_of(expr: str) -> Shape | None:
    """``expr``'s :class:`Shape`, or None when ``expr`` has another
    form or is out of subset."""
    parsed = _parse_expr(expr)
    return None if parsed is None else _shape(parsed)


def compile_subset(expr: str) -> Callable[[Element], str | None] | None:
    """Compile ``expr`` into ``tree -> concatenated-string-or-None``
    (None = empty nodeset → no cell). Returns None if out of subset.

    Top-level XPath 1.0 unions (``//a/@id | //a/text()``) are part of
    the subset: each branch evaluates independently and the combined
    NODESET concatenates in GLOBAL document order with duplicates held
    once — attribute nodes sort immediately after their owner element
    and before its children (the javax document-order rule), multiple
    attributes of one element name-sorted (NamedNodeMap order), which
    the single merge walk reproduces by emitting an element's selected
    attributes, then its text, then its children."""
    parsed = _parse_expr(expr)
    if parsed is None:
        return None
    if len(parsed) == 1:
        steps, terminal = parsed[0]

        def evaluate_single(root: Element) -> str | None:
            nodes = _eval_steps(root, steps)
            if not nodes:
                return None
            if terminal[0] == "text":
                # text nodes are selected by OWNER (direct children of
                # the owner set) through one global document-order
                # walk — nested matched elements interleave their text
                # nodes, so a per-node concat would misorder (and, for
                # //text(), double-count). a None node is the DOCUMENT
                # (reachable via '..' from the root): no direct text
                # children in the ET model, descendant text = the whole
                # tree's.
                owners = _owner_ids_for_text(nodes, root, terminal[1])
                sel = terminal[2]
                if sel is None:
                    values = [
                        t
                        for owner, t in _walk_texts(root)
                        if id(owner) in owners
                    ]
                else:
                    # positional text(): the n-th / last DIRECT text
                    # node of EACH owner element (javax '//text()[1]' =
                    # first text child of every element)
                    counts: dict[int, int] = {}
                    totals: dict[int, int] = {}
                    if sel == ("last",):
                        for owner, _t in _walk_texts(root):
                            oid = id(owner)
                            if oid in owners:
                                totals[oid] = totals.get(oid, 0) + 1
                    values = []
                    for owner, t in _walk_texts(root):
                        oid = id(owner)
                        if oid not in owners:
                            continue
                        counts[oid] = counts.get(oid, 0) + 1
                        want = (
                            totals[oid] if sel == ("last",) else sel[1]
                        )
                        if counts[oid] == want:
                            values.append(t)
            elif terminal[0] == "attr_star":
                # every attribute of each matched element, NAME-SORTED
                # (javax NamedNodeMap order — see module docstring);
                # xmlns declarations never appear (ElementTree strips
                # them; javax excludes namespace nodes from the
                # attribute axis — both verified)
                values = []
                for n in nodes:
                    if n is None:
                        continue
                    for k in sorted(n.attrib):
                        values.append(n.attrib[k])
            else:
                attr = terminal[1]
                values = []
                for n in nodes:
                    if n is None:
                        continue  # the document node has no attributes
                    v = _get_attr_local(n, attr)
                    if v is not None:
                        values.append(v)
            if not values:
                return None  # empty nodeset: reference drops the cell
            return "".join(values)

        return evaluate_single

    def evaluate_union(root: Element) -> str | None:
        attr_sel: dict[int, set[str]] = {}  # id(el) -> selected attrib keys
        text_all: set[int] = set()  # ids owning ALL their direct text nodes
        text_pick: set[tuple[int, int]] = set()  # (owner id, 1-based index)
        for steps, terminal in parsed:
            nodes = _eval_steps(root, steps)
            if terminal[0] == "attr":
                for n in nodes:
                    if n is None:
                        continue  # document node: no attributes
                    k = _attr_key_local(n, terminal[1])
                    if k is not None:
                        attr_sel.setdefault(id(n), set()).add(k)
            elif terminal[0] == "attr_star":
                for n in nodes:
                    if n is None:
                        continue
                    if n.attrib:
                        attr_sel.setdefault(id(n), set()).update(n.attrib)
            else:  # text
                owners = _owner_ids_for_text(nodes, root, terminal[1])
                sel = terminal[2]
                if sel is None:
                    text_all.update(owners)
                else:
                    # positional selection needs each owner's direct-
                    # text count; resolve per owner element in one walk
                    for el in root.iter():
                        oid = id(el)
                        if oid not in owners:
                            continue
                        total = _direct_text_count(el)
                        want = total if sel == ("last",) else sel[1]
                        if 1 <= want <= total:
                            text_pick.add((oid, want))
        values: list[str] = []

        def opened(el: Element) -> list:
            """Emit ``el``'s selected attributes and leading text; the
            walk's frame: element, child iterator, text-node count."""
            sel = attr_sel.get(id(el))
            if sel:
                # name-sorted within the element (NamedNodeMap order)
                for k in sorted(el.attrib):
                    if k in sel:
                        values.append(el.attrib[k])
            tidx = 0
            if el.text:
                tidx = 1
                if id(el) in text_all or (id(el), 1) in text_pick:
                    values.append(el.text)
            return [el, iter(el), tidx]

        def tail(frame: list, c: Element) -> None:
            if c.tail:
                frame[2] += 1
                oid = id(frame[0])
                if oid in text_all or (oid, frame[2]) in text_pick:
                    values.append(c.tail)

        # document order with an explicit stack (no recursion limit)
        stack = [opened(root)]
        while stack:
            frame = stack[-1]
            c = next(frame[1], None)
            if c is None:
                stack.pop()
                if stack:
                    tail(stack[-1], frame[0])
            elif isinstance(c.tag, str):
                stack.append(opened(c))
            else:
                tail(frame, c)
        if not values:
            return None
        return "".join(values)

    return evaluate_union
