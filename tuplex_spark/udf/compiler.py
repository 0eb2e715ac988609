"""Python-UDF -> Catalyst Column compiler.

The Spark-idiomatic replacement for the reference's LLVM codegen pipeline
(reference analog: codegen/src/TypeAnnotatorVisitor.cc for typing,
codegen/src/BlockGeneratorVisitor.cc + codegen/src/FunctionRegistry.cc for
lowering, core/src/UDF.cc rewriteDictAccessInAST for x['col'] access).

Instead of emitting LLVM IR we emit ``pyspark.sql.Column`` expression trees,
so the whole operator pipeline stays inside Catalyst/Tungsten whole-stage
codegen.  Python exception semantics are preserved via *guards*: for every
sub-expression that could raise in CPython (int('abc'), x/0, math.sqrt(-1),
comparison with None, ...), the compiler emits a boolean Column that is true
exactly when CPython would have raised, tagged with the exception code.  The
dataset layer turns guards into the __exc_code column that powers
resolve()/ignore()/exception_counts (SURVEY.md §2.7).

Anything outside the supported subset raises ``CompileError`` and the caller
falls back to the Arrow/pickled-UDF ladder (fallback.py) — mirroring the
reference's compiled-path / interpreter-path split, with CPython itself as
the "general case".
"""

from __future__ import annotations

import ast
import contextlib
import copy
import json as _json_mod
import math as _math
import re as _re_mod
import string as _string_mod
import random as _random_mod
from collections import OrderedDict
from typing import NamedTuple

from pyspark.sql import Column, functions as F, types as T

from . import reflection
from ..exceptions import code_for, codes_caught_by, name_for_code
from ..typeutils import super_type

# exception classes whose CPython construction is (message,) wherever
# the engine emits a guarded raise — so a handler's ``e.args`` read is
# derivable as (str(e),) from the recorded raise-site message.  NOT on
# the list: KeyError (args=(key,), str(e)=repr(key)), StopIteration /
# AssertionError (zero-arg raises have args=()), the Unicode errors
# (5-tuple args), and the input-malformation codes.
_ARGS_IS_MESSAGE = {
    "Exception", "ArithmeticError", "ZeroDivisionError", "OverflowError",
    "FloatingPointError", "LookupError", "IndexError", "ValueError",
    "TypeError", "AttributeError", "RuntimeError", "NotImplementedError",
    "RecursionError", "NameError", "UnboundLocalError",
}


class CompileError(Exception):
    """UDF not expressible as Column expressions -> use fallback ladder."""


class _Guard(NamedTuple):
    """One raise site: rows where ``cond`` holds raise the exception
    class ``code``.  ``msg`` is CPython's ``str(e)`` there and ``args``
    its ``e.args`` as Syms, when the site records them (handlers that
    read ``str(e)``/``e.args`` need them); ``snap`` holds the locals the
    active ``try`` handlers read, as of the raise point."""
    cond: Column
    code: int
    msg: Column | None
    args: list | None
    snap: dict


class _SymExpr(ast.expr):
    """Synthetic AST node carrying a pre-evaluated Sym — used to inject
    per-iteration loop-variable bindings when unrolling static loops."""
    _fields = ()

    def __init__(self, sym):
        self.sym = sym

    def __deepcopy__(self, memo):
        return self  # carries Columns, which are immutable


class _Reraise(_SymExpr):
    """``raise <as-name>``'s exception: ``sym`` holds the guards that
    feed the handler, which the raise re-emits."""


def _target_names(t) -> list[str]:
    if isinstance(t, ast.Name):
        return [t.id]
    if isinstance(t, ast.Tuple):
        out = []
        for e in t.elts:
            out.extend(_target_names(e))
        return out
    raise CompileError("assignment target shape")


_PY_REPL_ESC = {"n": "\n", "t": "\t", "r": "\r", "v": "\v", "f": "\f",
                "a": "\a", "b": "\b", "\\": "\\"}


def _parse_py_repl_template(repl: str) -> list[tuple[str, object]]:
    """CPython re.sub replacement template -> [('lit', str)|('grp', int)]
    with escapes EXPANDED (\\\\ -> one backslash, \\n -> newline) and
    group refs resolved (\\1..\\99, \\g<2>).  Bad escapes, \\g<name>, and
    octal \\0 raise CompileError (fallback keeps exact semantics).  The
    raw source text must never reach the sink: array_join inserts it
    literally and Java's replaceAll has its own escape grammar."""
    out: list[tuple[str, object]] = []
    lit: list[str] = []
    i, n = 0, len(repl)
    while i < n:
        ch = repl[i]
        if ch != "\\":
            lit.append(ch)
            i += 1
            continue
        if i + 1 >= n:
            raise CompileError("re.sub repl: bad escape at end")
        nxt = repl[i + 1]
        if nxt == "0":
            raise CompileError("re.sub repl: octal escape")
        if nxt.isdigit():
            j = i + 2
            if j < n and repl[j].isdigit():  # CPython: max two digits
                j += 1
            if lit:
                out.append(("lit", "".join(lit)))
                lit = []
            out.append(("grp", int(repl[i + 1:j])))
            i = j
            continue
        if nxt == "g":
            m = _re_mod.match(r"\\g<(\d+)>", repl[i:])
            if not m:
                raise CompileError("re.sub repl: \\g<name>")
            if lit:
                out.append(("lit", "".join(lit)))
                lit = []
            out.append(("grp", int(m.group(1))))
            i += m.end()
            continue
        if nxt in _PY_REPL_ESC:
            lit.append(_PY_REPL_ESC[nxt])
            i += 2
            continue
        raise CompileError(f"re.sub repl: bad escape \\{nxt}")
    if lit:
        out.append(("lit", "".join(lit)))
    return out


def _pattern_min_width(pat: str) -> int:
    """Minimum number of characters a regex can consume in a match —
    0 means it can match empty SOMEWHERE (possibly only in context:
    lookbehinds, x*, a?), which is what Java-split-based rewrites must
    reject.  Parsed statically; unparseable -> 0 (conservative)."""
    try:
        from re import _parser as _sre
    except ImportError:  # pragma: no cover - pre-3.11 layout
        import sre_parse as _sre  # type: ignore
    try:
        return _sre.parse(pat).getwidth()[0]
    except Exception:
        return 0


_CASEFOLD_TABLES = None


def _casefold_tables():
    """(multi_replacements, translate_from, translate_to): every char
    whose casefold differs from itself, split into expanding (len>1)
    replaces and 1:1 translate pairs.  Enumerated once from CPython's
    own str.casefold, so the compiled output is definitionally in sync
    with the interpreter the fallback would use."""
    global _CASEFOLD_TABLES
    if _CASEFOLD_TABLES is None:
        multi, f, t = [], [], []
        for i in range(0x110000):
            ch = chr(i)
            cf = ch.casefold()
            if cf == ch:
                continue
            if len(cf) == 1:
                f.append(ch)
                t.append(cf)
            else:
                multi.append((ch, cf))
        _CASEFOLD_TABLES = (multi, "".join(f), "".join(t))
    return _CASEFOLD_TABLES


def _loop_assigned_names(stmts) -> list[str]:
    """Names assigned anywhere in a fold-loop body (order-preserving).
    Statements other than Assign/AugAssign/If/Expr/Pass make the body
    non-foldable."""
    names: list[str] = []

    def add(ns):
        for n in ns:
            if n not in names:
                names.append(n)

    for st in stmts:
        if isinstance(st, ast.Assign):
            for t in st.targets:
                add(_target_names(t))
        elif isinstance(st, ast.AugAssign):
            add(_target_names(st.target))
        elif isinstance(st, ast.If):
            add(_loop_assigned_names(st.body))
            add(_loop_assigned_names(st.orelse))
        elif isinstance(st, (ast.Expr, ast.Pass)):
            continue
        else:
            raise CompileError(
                f"fold loop body statement {type(st).__name__}")
    return names


def _py_compare(op, a, b):
    import operator as _op
    table = {ast.Eq: _op.eq, ast.NotEq: _op.ne, ast.Lt: _op.lt,
             ast.LtE: _op.le, ast.Gt: _op.gt, ast.GtE: _op.ge,
             ast.Is: _op.is_, ast.IsNot: _op.is_not,
             ast.In: lambda x, y: x in y,
             ast.NotIn: lambda x, y: x not in y}
    return table[type(op)](a, b)


def _contains_break_continue(node) -> bool:
    """break/continue anywhere in this statement, NOT descending into
    nested loops (whose break/continue bind to the inner loop)."""
    if isinstance(node, (ast.Break, ast.Continue)):
        return True
    if isinstance(node, (ast.For, ast.While, ast.FunctionDef,
                         ast.AsyncFunctionDef, ast.Lambda)):
        return False
    for child in ast.iter_child_nodes(node):
        if _contains_break_continue(child):
            return True
    return False


def _contains_continue(node) -> bool:
    """``continue`` in this statement, not descending into nested loops."""
    if isinstance(node, ast.Continue):
        return True
    if isinstance(node, (ast.For, ast.While, ast.FunctionDef,
                         ast.AsyncFunctionDef, ast.Lambda)):
        return False
    return any(_contains_continue(c) for c in ast.iter_child_nodes(node))


def _exc_read_kind(n, name: str) -> str | None:
    """The read of the caught exception ``name`` that node ``n`` is, as
    a whole, or None: 'typename' (``type(e).__name__``,
    ``e.__class__.__name__``), 'message' (``str(e)``, f-string ``{e}``
    / ``{e!s}``), 'args' (``e.args``), 'repr' (``repr(e)``, ``{e!r}``)
    or 'reraise' (``raise e``).  A format spec on ``{e}`` would make
    CPython raise TypeError (object.__format__ rejects non-empty specs),
    so it is not a read here."""
    def is_e(x):
        return isinstance(x, ast.Name) and x.id == name

    if isinstance(n, ast.Attribute):
        v = n.value
        if n.attr == "args" and is_e(v):
            return "args"
        if n.attr == "__name__" and (
                (isinstance(v, ast.Call) and isinstance(v.func, ast.Name)
                 and v.func.id == "type" and len(v.args) == 1
                 and not v.keywords and is_e(v.args[0]))
                or (isinstance(v, ast.Attribute)
                    and v.attr == "__class__" and is_e(v.value))):
            return "typename"
    elif isinstance(n, ast.Call):
        if (isinstance(n.func, ast.Name) and n.func.id in ("str", "repr")
                and len(n.args) == 1 and not n.keywords
                and is_e(n.args[0])):
            return "message" if n.func.id == "str" else "repr"
    elif isinstance(n, ast.FormattedValue):
        if is_e(n.value) and n.format_spec is None:
            return {-1: "message", ord("s"): "message",
                    ord("r"): "repr"}.get(n.conversion)
    elif isinstance(n, ast.Raise):
        if is_e(n.exc) and n.cause is None:
            return "reraise"
    return None


def _format_call_message_reads(n, name: str):
    """``"<const template>".format(..., <name>, ...)``: the Name
    argument nodes every one of whose consuming fields applies STR
    semantics (bare ``{}`` / ``{i}`` / ``{kw}`` — no spec, no
    conversion or !s, no attribute/index access on the field).
    Returns the list of such Name nodes, or None when the call isn't
    that shape or some field needs repr/a spec (CPython raises
    TypeError on a non-empty spec for exceptions; never fake it)."""
    if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "format"
            and isinstance(n.func.value, ast.Constant)
            and isinstance(n.func.value.value, str)
            and all(isinstance(a, ast.expr) and not isinstance(a, ast.Starred)
                    for a in n.args)
            and all(kw.arg is not None for kw in n.keywords)):
        return None
    try:
        fields = list(_string_mod.Formatter().parse(n.func.value.value))
    except ValueError:
        return None
    uses: list[tuple] = []   # (key, full_field_name, head, spec, conversion)
    auto = 0
    for _lit, fname, fspec, fconv in fields:
        if fname is None:
            continue
        head = fname.split(".")[0].split("[")[0]
        if head == "":
            key: int | str = auto
            auto += 1
        elif head.isdigit():
            key = int(head)
        else:
            key = head
        uses.append((key, fname, head, fspec, fconv))
    out = []
    for key, a in [*enumerate(n.args),
                   *((kw.arg, kw.value) for kw in n.keywords)]:
        if isinstance(a, ast.Name) and a.id == name:
            for k, fname, head, fspec, fconv in uses:
                if k == key and (fname != head or fspec not in ("", None)
                                 or fconv not in (None, "s")):
                    return None
            out.append(a)
    return out or None


class _ExcReads(ast.NodeTransformer):
    """One pass over the body of an ``except ... as <name>`` handler:
    each read of the caught exception (the shapes of _exc_read_kind,
    plus bare ``"...".format(e)`` fields, which CPython defines as
    ``str(e)``) becomes its Sym, built once per kind by ``make(kind)``
    and kept in ``syms``; ``raise e`` becomes a _Reraise of the guards
    that feed the handler.  Any other use of the name (a load, a store
    or a delete) is a CompileError, which sends the UDF to the exact
    fallback.

    Scope follows CPython: a lambda whose parameters include the name
    reads its parameter, so its body is not walked.  A nested
    ``except ... as <name>`` binds its own exception (its body gets its
    own pass when it runs) and unbinds the name when it ends, so a read
    after it, or anywhere in a loop around it, falls back.  A
    comprehension that binds the name stores it, and falls back."""

    def __init__(self, name: str, entries: list, make):
        self.name, self.entries, self.make = name, entries, make
        self.syms: dict = {}
        self.unbound = False

    def _read(self, kind: str):
        if self.unbound:
            raise CompileError("handler reads its `as` name after a "
                               "nested handler unbound it")
        if kind not in self.syms:
            self.syms[kind] = self.entries if kind == "reraise" \
                else self.make(kind)
        return self.syms[kind]

    def visit(self, node):
        kind = _exc_read_kind(node, self.name)
        if kind is None:
            return super().visit(node)
        sym = self._read(kind)
        if kind == "reraise":
            new = ast.Raise(exc=_Reraise(sym), cause=None)
        elif isinstance(node, ast.FormattedValue):
            # str/repr already applied: the value is the formatted text
            new = ast.FormattedValue(value=_SymExpr(sym), conversion=-1,
                                     format_spec=None)
        else:
            new = _SymExpr(sym)
        return ast.copy_location(new, node)

    def visit_Call(self, node):
        names = _format_call_message_reads(node, self.name)
        if names:
            # the qualifying Name arguments become the message: format()
            # then applies their bare fields to the str CPython passes
            ids = {id(x) for x in names}
            msg = _SymExpr(self._read("message"))
            node.args = [msg if id(a) in ids else a for a in node.args]
            for kw in node.keywords:
                if id(kw.value) in ids:
                    kw.value = msg
        return self.generic_visit(node)

    def visit_Name(self, node):
        if node.id == self.name:
            raise CompileError("handler uses its `as` binding")
        return node

    def visit_Lambda(self, node):
        a = node.args
        if self.name in {p.arg for p in (*a.posonlyargs, *a.args,
                                         *a.kwonlyargs, a.vararg, a.kwarg)
                         if p is not None}:
            self.generic_visit(a)  # the defaults are the handler's reads
            return node
        return self.generic_visit(node)

    def visit_ExceptHandler(self, node):
        if node.name != self.name:
            return self.generic_visit(node)
        self.unbound = True
        return node

    def _loop(self, node):
        # a later iteration reads after a nested handler inside unbinds it
        if any(isinstance(n, ast.ExceptHandler) and n.name == self.name
               for n in ast.walk(node)):
            self.unbound = True
        return self.generic_visit(node)

    visit_For = visit_While = _loop


def _flag_assign(name: str, value: bool) -> ast.Assign:
    return ast.Assign(targets=[ast.Name(id=name, ctx=ast.Store())],
                      value=_SymExpr(SConst(value)))


def _not_name(name: str) -> ast.expr:
    return ast.UnaryOp(op=ast.Not(),
                       operand=ast.Name(id=name, ctx=ast.Load()))


def _is_pure_break_if(s) -> bool:
    """``if c: break`` with no orelse — the only break carrier the
    while-contraction fold admits (see _while_contraction_info)."""
    return (isinstance(s, ast.If) and not s.orelse
            and len(s.body) == 1 and isinstance(s.body[0], ast.Break))


def _is_pure_continue_if(s) -> bool:
    """``if c: continue`` with no orelse — admitted by the
    while-contraction fold ONLY after the driver update (a continue
    before it could skip the update and void the iteration bound)."""
    return (isinstance(s, ast.If) and not s.orelse
            and len(s.body) == 1 and isinstance(s.body[0], ast.Continue))


def _lower_break_continue(stmts: list, brk: str, cont: str) -> list:
    """Rewrite a loop body so break/continue become flag assignments:
    ``break`` -> brk=True, cont=True; ``continue`` -> cont=True; any
    statement sequence following a construct that may set the flags is
    wrapped in ``if not cont``.  Statically-unreachable statements after
    a bare break/continue are dropped (CPython never executes them)."""
    out: list = []
    for i, st in enumerate(stmts):
        if isinstance(st, ast.Break):
            out.append(_flag_assign(brk, True))
            out.append(_flag_assign(cont, True))
            return out
        if isinstance(st, ast.Continue):
            out.append(_flag_assign(cont, True))
            return out
        if isinstance(st, ast.If) and _contains_break_continue(st):
            body = _lower_break_continue(list(st.body), brk, cont)
            orelse = _lower_break_continue(list(st.orelse), brk, cont)
            out.append(ast.If(test=st.test, body=body or [ast.Pass()],
                              orelse=orelse))
            rest = _lower_break_continue(stmts[i + 1:], brk, cont)
            if rest:
                out.append(ast.If(test=_not_name(cont), body=rest,
                                  orelse=[]))
            return out
        out.append(st)
    return out


def _py_float_str(c: Column) -> Column:
    """CPython ``str(float)`` from a double Column.

    Spark's double->string cast emits Java style ('Infinity', 'NaN',
    '1.0E16', '1.0E-4', sci for |x| >= 1e7 or < 1e-3); CPython emits
    'inf'/'nan', plain decimal for exponents in [-4, 16) and 'd.dde±NN'
    outside.  Both use shortest-round-trip digits, so this is a pure
    FORMAT conversion over the cast string: split mantissa/exponent and
    re-assemble per CPython's rules.  (Known un-fixable edge: a handful
    of subnormals where pre-Ryu Java emits one extra digit.)"""
    s = c.cast("string")
    m = F.substring_index(s, "E", 1)
    e = F.substring_index(s, "E", -1).cast("int")
    neg = m.startswith("-")
    am = F.when(neg, F.substring(m, 2, 1000)).otherwise(m)
    ip = F.substring_index(am, ".", 1)
    fr = F.substring_index(am, ".", -1)
    flen = F.length(fr)
    sgn = F.when(neg, F.lit("-")).otherwise(F.lit(""))
    mant = F.when(fr == "0", ip).otherwise(F.concat(ip, F.lit("."), fr))
    def _exp2(x: Column) -> Column:
        # >=2 exponent digits, but lpad TRUNCATES longer strings ('324'
        # -> '32'), so pad only 1-digit exponents
        xs = x.cast("string")
        return F.when(F.length(xs) < 2, F.concat(F.lit("0"), xs)) \
                .otherwise(xs)

    sci_pos = F.concat(sgn, mant, F.lit("e+"), _exp2(e))
    sci_neg = F.concat(sgn, mant, F.lit("e-"), _exp2(-e))
    plain_pos = F.concat(
        sgn,
        F.when(flen <= e,
               F.concat(ip, fr, F.repeat(F.lit("0"), e - flen), F.lit(".0")))
         .otherwise(F.concat(ip, fr.substr(F.lit(1), e), F.lit("."),
                             fr.substr(e + 1, flen))))
    plain_neg = F.concat(sgn, F.lit("0."), F.repeat(F.lit("0"), -e - 1),
                         F.when(fr == "0", ip).otherwise(F.concat(ip, fr)))
    return (F.when(F.isnan(c), "nan")
             .when(c == float("inf"), "inf")
             .when(c == float("-inf"), "-inf")
             .when(~s.contains("E"), s)
             .when(e >= 16, sci_pos)
             .when(e >= 0, plain_pos)
             .when(e >= -4, plain_neg)
             .otherwise(sci_neg))


_NONPRINT_CLASS: str | None = None


def _nonprintable_class() -> str:
    """Anchored single-char regex matching exactly the codepoints that
    CPython ``str.isprintable()`` rejects (categories C*/Z* except
    U+0020).  Generated from THIS interpreter's Unicode tables and
    cached — Java's ``\\p{C}\\p{Z}`` properties track a different
    Unicode version, so a codepoint assigned in one but not the other
    would make compiled repr() diverge from the CPython fallback.
    701 ranges / ~10 KB as of Unicode 15; built once per process
    (~0.3 s), reused by every compiled repr."""
    global _NONPRINT_CLASS
    if _NONPRINT_CLASS is None:
        parts: list[str] = []
        start = None
        for i in range(0x110001):
            printable = i <= 0x10FFFF and chr(i).isprintable()
            if not printable and i <= 0x10FFFF:
                if start is None:
                    start = i
            elif start is not None:
                a, b = start, i - 1
                parts.append(f"\\x{{{a:x}}}" if a == b
                             else f"\\x{{{a:x}}}-\\x{{{b:x}}}")
                start = None
        _NONPRINT_CLASS = "^[" + "".join(parts) + "]$"
    return _NONPRINT_CLASS


def _py_str_repr(c: Column) -> Column:
    """CPython ``repr()`` of a string Column, bit-exact: quote selection
    (single, unless the value contains ``'`` and no ``"``), the fixed
    escapes (backslash, chosen quote, \\n \\r \\t), and \\xXX/\\uXXXX/
    \\UXXXXXXXX for exactly the non-printable codepoints of this
    interpreter's Unicode tables (_nonprintable_class).

    Shape: one codepoint-aware split + a per-char when() chain inside
    transform (split('') keeps surrogate pairs whole; ascii() returns
    the full codepoint).  Linear in string length and vectorized, but
    heavier than a regexp_replace — repr is format-path, never a
    filter/join hot path."""
    use_dq = c.contains("'") & ~c.contains('"')
    q = F.when(use_dq, F.lit('"')).otherwise(F.lit("'"))
    np = _nonprintable_class()

    def esc(ch: Column) -> Column:
        cp = F.ascii(ch)
        h = F.lower(F.conv(cp.cast("string"), 10, 16))
        hexesc = (
            F.when(cp <= 0xFF, F.concat(F.lit("\\x"), F.lpad(h, 2, "0")))
             .when(cp <= 0xFFFF, F.concat(F.lit("\\u"), F.lpad(h, 4, "0")))
             .otherwise(F.concat(F.lit("\\U"), F.lpad(h, 8, "0"))))
        return (F.when(ch == "\\", F.lit("\\\\"))
                 .when(ch == q, F.concat(F.lit("\\"), ch))
                 .when(ch == "\n", F.lit("\\n"))
                 .when(ch == "\r", F.lit("\\r"))
                 .when(ch == "\t", F.lit("\\t"))
                 .when(ch.rlike(np), hexesc)
                 .otherwise(ch))

    body = F.array_join(F.transform(F.split(c, ""), esc), "")
    return F.concat(q, body, q)


# ---------------------------------------------------------------- symbolic values

class Sym:
    tag = "any"
    nullable = False


class SCol(Sym):
    def __init__(self, col: Column, tag: str, nullable: bool = False,
                 elem: str | None = None):
        self.col, self.tag, self.nullable = col, tag, nullable
        self.elem = elem  # element tag when tag == "array"

    def __repr__(self):
        return f"SCol({self.tag})"


class SConst(Sym):
    def __init__(self, value):
        self.value = value
        self.tag = _pytag(value)
        self.nullable = value is None


class SRaised(SConst):
    """Placeholder 'return value' of a path that RAISES: the row is an
    exception row, its output column is never read.  _merge_returns
    drops these when any live arm exists, so a raising dict/tuple UDF
    keeps its unpacked multi-column shape instead of degrading to a
    nullable struct."""

    def __init__(self):
        super().__init__(None)


class STuple(Sym):
    tag = "tuple"

    def __init__(self, items):
        self.items = list(items)


class SDict(Sym):
    tag = "dict"

    def __init__(self, items):
        self.items = dict(items)  # str key -> Sym


class SRow(Sym):
    """The row parameter of a multi-column UDF: x[0], x['name']."""
    tag = "row"

    def __init__(self, translator):
        self.tr = translator


class SModule(Sym):
    tag = "module"

    def __init__(self, mod):
        self.mod = mod


class SMatch(Sym):
    """Result of re.search: truthy iff pattern matched."""
    tag = "match"

    def __init__(self, subject: Sym, pattern: str, translator):
        self.subject, self.pattern, self.tr = subject, pattern, translator
        self.nullable = True


class SJson(Sym):
    """A ``json.loads`` result (or a value reached from one by constant-
    key subscripts / .get): the parsed VARIANT column plus a JSON path.
    The
    value's TYPE is data-dependent, so every consumer (int(), float(),
    == literal, further subscript) dispatches per row on
    ``schema_of_variant`` — exactness the reference cannot offer (it has
    no json.loads support at all, SURVEY §2.6 JSON row).

    ``exists``/``default`` carry .get() semantics: when ``exists`` is
    false for a row, consumers use the COMPILE-TIME ``default`` value
    (int(default), default == lit, ... computed in Python)."""
    tag = "json"
    nullable = True

    def __init__(self, v_col: Column, path: str,
                 exists: Column | None = None, default=None):
        self.v_col, self.path = v_col, path
        self.exists, self.default = exists, default


_VARIANT_FIELDS = {
    "bool": ("__vb", "boolean", 1),
    "int": ("__vi", "bigint", 2),
    "float": ("__vf", "double", 3),
    "str": ("__vs", "string", 4),
}


class SArgsTuple(Sym):
    """Handler ``e.args`` over MIXED-arity raise sites (round 12):
    carries the per-site recorded args (eff-condition, [Sym...]) plus a
    merged length Sym, instead of one static tuple (CPython handlers
    see one exception per row, so the tuple LENGTH is data-dependent).
    Only ``len(e.args)`` and literal-index subscripts compile — the
    index resolves per-site (so negative indices pick each site's own
    position) and the items merge under the eff conditions; any other
    use of the tuple value is a CompileError -> exact fallback."""
    tag = "argstuple"
    nullable = False

    def __init__(self, per, len_sym):
        self.per, self.len_sym = per, len_sym


class SVariant(Sym):
    """A MIXED-type scalar (e.g. ``return "odd" if n % 2 else n * 10``)
    as a tagged struct column: ``__vt`` (0=None, 1=bool, 2=int,
    3=float, 4=str) plus one value field per type family present.  The
    reference handles such returns with its dual-mode general path
    (rows violating the normal case run interpreted,
    core/src/physical/PythonPipelineBuilder.cc); here the whole column
    stays compiled and the struct decodes back to the exact Python
    value wherever rows cross into Python (``fallback.decode_columns``,
    for the interpreter path, the folds and actions alike), so
    downstream ops and results see real ``int | str`` values."""
    tag = "pyvariant"
    nullable = True

    def __init__(self, col: Column, present: list[str]):
        self.col, self.present = col, present


def is_variant_struct(dt) -> bool:
    return (isinstance(dt, T.StructType) and dt.fields
            and dt.fields[0].name == "__vt")


def is_set_struct(dt) -> bool:
    """Compiled SET value at a column boundary: a 1-field struct whose
    ``__sv`` field holds the distinct elements sorted (sets are
    unordered, so the deterministic order is free to pick) — decoded
    back to a real Python ``set`` wherever rows cross into Python
    (``fallback.decode_columns``), and re-bound as a set-tagged column
    by _col_sym so downstream compiled set ops keep compiling."""
    return (isinstance(dt, T.StructType) and len(dt.fields) == 1
            and dt.fields[0].name == "__sv"
            and isinstance(dt.fields[0].dataType, T.ArrayType))


def _pytag(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (list, tuple)):
        return "array"
    if isinstance(v, dict):
        return "map"
    return "any"


_SPARK_TAG = {
    "boolean": "bool", "long": "int", "int": "int", "smallint": "int",
    "tinyint": "int", "bigint": "int", "double": "float", "float": "float",
    "string": "str", "date": "date", "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
}


def spark_tag(dt: T.DataType) -> str:
    s = dt.simpleString()
    if s in _SPARK_TAG:
        return _SPARK_TAG[s]
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, T.MapType):
        return "map"
    if isinstance(dt, T.StructType):
        return "struct"
    return "any"


def tag_to_spark(tag: str) -> T.DataType:
    return {
        "bool": T.BooleanType(), "int": T.LongType(), "float": T.DoubleType(),
        "str": T.StringType(), "null": T.NullType(), "date": T.DateType(),
        "timestamp": T.TimestampType(),
    }.get(tag, T.StringType())


# ---------------------------------------------------------------- result object

class CompiledUDF:
    """Result of compiling one UDF against an input schema."""

    def __init__(self, result: Sym, guards, accessed, translator):
        self.result = result            # Sym: SCol/SConst/STuple/SDict
        self.guards = guards            # list[(Column cond, int code)]
        self.accessed = accessed        # set[str] input columns actually read
        self.staged = translator.staged  # [(tmp_name, Column)] CSE layers
        self._tr = translator

    # -- shaping helpers -------------------------------------------------
    def as_scalar(self) -> tuple[Column, str]:
        if isinstance(self.result, (STuple, SDict)):
            raise CompileError("expected scalar result")
        c = self._tr.to_col(self.result)
        return c, self.result.tag

    def as_predicate(self) -> Column:
        return self._tr.truthy(self.result)

    def as_columns(self) -> list[tuple[str | None, Column, str]]:
        """[(name-or-None, column, tag)] — tuple fans out positionally,
        dict by key, scalar is a single unnamed column."""
        r = self.result

        def out(s):
            # set-tagged values cross the boundary as a __sv marker
            # struct (sorted distinct elements) that decodes back to a
            # real Python set at collect / in the Arrow fallback and
            # re-binds as a set column for downstream compiled ops —
            # CPython's hash order is arbitrary, so the sorted order
            # is a valid (and deterministic) representation
            if getattr(s, "tag", None) == "set":
                return (F.struct(F.array_sort(self._tr.to_col(s))
                                 .alias("__sv")), "set")
            return (self._tr.to_col(s), s.tag)

        if isinstance(r, STuple):
            return [(None, *out(i)) for i in r.items]
        if isinstance(r, SDict):
            return [(k, *out(v)) for k, v in r.items.items()]
        return [(None, *out(r))]


# ---------------------------------------------------------------- translator

_NUM_TAGS = {"bool", "int", "float"}


class Translator:
    def __init__(self, schema: T.StructType, env: dict,
                 col_map: dict[str, str] | None = None):
        self.schema = schema
        self.env = env
        self.col_map = col_map or {}  # schema name -> physical df column
        self.guards: list[_Guard] = []  # raise sites, in emission order
        # innermost-last stack of the guards (under their handler
        # conditions) feeding the handler bodies being compiled — a
        # bare `raise` re-emits the innermost
        self._reraise_ctx: list[list[_Guard]] = []
        self.accessed: set[str] = set()
        self._locals: dict[str, Sym] = {}
        self._returns: list[tuple[Column | None, Sym]] = []
        self._tmp = 0
        # >0 while symbolically executing a conditional branch or a fold
        # body: blocks dict mutation (pop/popitem), whose in-place
        # aliasing is only Python-correct on the straight-line path
        self._branch_depth = 0
        self._unroll_depth = 0
        # the control-flow condition under which code is currently being
        # evaluated: every guard is conjoined with it, so an expression
        # that would raise inside `if c: ...` / `a if c else b` / the
        # short-circuited arm of and/or only marks rows where CPython
        # actually evaluates it
        self._path: Column | None = None
        # common-subexpression staging: local assignments of non-trivial
        # expressions become real projection columns ((name, Column)
        # layers the dataset applies in order), so later references are
        # cheap col() lookups.  Without this, every use of a local
        # re-inlines its whole defining tree — a chained find/rfind/slice
        # UDF exploded to a ~300 KB plan per operator and a 10-op
        # pipeline grew exponentially.  Staging is valid inside If
        # branches too (Column exprs are pure; guards carry their own
        # path condition) but NOT inside HOF lambda scopes, where no
        # projection exists — tracked by _hof_depth.
        self.staged: list[tuple[str, Column]] = []
        self._json_staged: dict[str, Column] = {}
        # (source-expr string [, K]) -> staged sci-format intermediates;
        # see _sci_digits (the digit extraction is huge — re-inlining it
        # per reference OOM'd codegen on a single '{:e}')
        self._sci_staged: dict = {}
        self._hof_depth = 0
        # the body-assigned names each enclosing try body's handlers
        # read — guard() records them AS OF each raise point (CPython
        # handler scope) in the guard's snap, for every level of nested
        # tries
        self._snap_stack: list[set[str]] = []
        self._loop_flag_id = 0  # see _fresh_id

    # -- public entry ----------------------------------------------------
    def compile(self, fn) -> CompiledUDF:
        try:
            node = reflection.function_ast(fn)
        except reflection.SourceExtractionError as e:
            raise CompileError(str(e)) from e
        self.env = {**reflection.closure_env(fn), **self.env}
        params = [a.arg for a in node.args.args]
        self._bind_params(params)
        if isinstance(node, ast.Lambda):
            result = self.eval(node.body)
        else:
            terminated = self.exec_block(node.body, None)
            if not terminated:
                self._returns.append((None, SConst(None)))
            result = self._merge_returns()
        if isinstance(result, SRow):
            result = self._row_tuple()  # identity map: fan the row out
        self._check_materializable(result)
        return CompiledUDF(result, [(g.cond, g.code) for g in self.guards],
                           self.accessed, self)

    def _check_materializable(self, s: Sym):
        """Fail compilation (inside the caught region) for result shapes
        the column layer cannot hold — e.g. empty tuples anywhere."""
        if isinstance(s, STuple):
            if not s.items:
                raise CompileError("empty tuple value (no Spark struct)")
            for i in s.items:
                self._check_materializable(i)
        elif isinstance(s, SDict):
            for v in s.items.values():
                self._check_materializable(v)
        elif isinstance(s, SConst) and isinstance(s.value, tuple) \
                and not s.value:
            raise CompileError("empty tuple constant")

    def _bind_params(self, params):
        fields = self.schema.fields
        if len(params) == 1:
            if len(fields) == 1:
                self._locals[params[0]] = self._field_sym(fields[0])
            else:
                self._locals[params[0]] = SRow(self)
        elif len(params) == len(fields):
            for p, f in zip(params, fields):
                self._locals[p] = self._field_sym(f)
                self.accessed.add(f.name)
        elif len(fields) == 1:
            # multi-param UDF over one tuple-typed column: auto-unpack
            # (reference passes the row tuple as *args when arity fits)
            sym = self._field_sym(fields[0])
            if isinstance(sym, STuple) and len(sym.items) == len(params):
                for p, s in zip(params, sym.items):
                    self._locals[p] = s
            else:
                raise CompileError(
                    f"UDF arity {len(params)} vs 1 column")
        else:
            raise CompileError(
                f"UDF arity {len(params)} vs {len(fields)} columns")

    def _field_sym(self, f: T.StructField) -> Sym:
        self.accessed.add(f.name)
        phys = self.col_map.get(f.name, f.name)
        return self._col_sym(F.col(phys), f.dataType, f.nullable)

    def _col_sym(self, col: Column, dt: T.DataType, nullable: bool) -> Sym:
        if is_variant_struct(dt):
            # input produced by a mixed-type compiled return: per-row
            # dynamic typing — the Arrow fallback (which decodes the
            # struct back to exact Python values) handles it
            raise CompileError("variant-typed input column")
        if is_set_struct(dt):
            # input produced by a compiled set return: re-bind the
            # element array as a set-tagged column — downstream set
            # ops (len, membership, algebra) keep compiling
            f = dt.fields[0]
            return SCol(col.getField("__sv"), "set",
                        f.nullable or nullable,
                        spark_tag(f.dataType.elementType))
        # struct columns following the engine's tuple convention
        # (_0.._n field names) ARE tuples: expose them as STuple so
        # indexing/unpacking/fan-out keep Python tuple semantics
        if isinstance(dt, T.StructType) and dt.fields and \
                all(_re_mod.fullmatch(r"_\d+", x.name) for x in dt.fields):
            return STuple([
                self._col_sym(col.getField(x.name), x.dataType,
                              x.nullable or nullable)
                for x in dt.fields])
        elem = None
        if isinstance(dt, T.ArrayType):
            elem = spark_tag(dt.elementType)
        return SCol(col, spark_tag(dt), nullable, elem)

    def _row_tuple(self) -> "STuple":
        """The whole input row as a tuple value (x used as a value)."""
        return STuple([self._field_sym(f) for f in self.schema.fields])

    # -- guard plumbing --------------------------------------------------
    def guard(self, cond: Column, exc: str, path: Column | None = None,
              msg: Column | str | None = None, args: list | None = None):
        """Record a raise site (see _Guard).  ``msg`` is the exact
        CPython str(exc) as a Column over the operand values AT THE
        RAISE POINT, so handlers that read ``str(e)`` compile (_exec_try
        builds a when-chain over the handler's guards); sites without
        one keep those handlers on the exact fallback."""
        if path is not None:
            cond = path & cond
        if self._path is not None:
            cond = self._path & cond
        names = set().union(*self._snap_stack)
        self.guards.append(_Guard(
            cond, code_for(exc), F.lit(msg) if isinstance(msg, str) else msg,
            args, {n: self._locals[n] for n in names if n in self._locals}))

    @contextlib.contextmanager
    def _speculate(self):
        """Run the ``with`` body as a speculative lowering: when it
        raises CompileError, the guards, returns, staged layers (and
        the JSON and sci-format caches that name them), locals and path
        go back to what they were before it, and compilation carries on
        after the block as if it had not run."""
        saved = (len(self.guards), list(self._returns), len(self.staged),
                 dict(self._json_staged), dict(self._sci_staged),
                 dict(self._locals), self._path)
        try:
            yield
        except CompileError:
            n_guards, self._returns, n_staged, self._json_staged, \
                self._sci_staged, self._locals, self._path = saved
            del self.guards[n_guards:]
            del self.staged[n_staged:]

    def _lambda_scope(self, bind: dict, fn):
        """Run ``fn()`` as the body of a Spark higher-order function's
        lambda, with ``bind`` (its variables' Syms) over the current
        locals.  No projection exists there, so nothing is staged, and
        the guards ``fn`` emits are taken back: their conditions read
        the lambda's variables, which mean nothing at row scope.
        Returns (fn's result, the captured guards); a caller that
        cannot host a guard rejects a non-empty capture."""
        saved = dict(self._locals)
        n_guards = len(self.guards)
        self._branch_depth += 1
        self._hof_depth += 1
        try:
            self._locals.update(bind)
            out = fn()
            caught = self.guards[n_guards:]
            del self.guards[n_guards:]
            return out, caught
        finally:
            self._branch_depth -= 1
            self._hof_depth -= 1
            self._locals = saved

    def _fresh_id(self) -> int:
        """A new number for the synthetic names of one loop lowering
        (``__brk3``, ``__rv3``, ``__wi3``)."""
        self._loop_flag_id += 1
        return self._loop_flag_id

    def _narrow(self, path: Column | None, start: int) -> Column | None:
        """The path past the conditional returns recorded since
        ``start``: a row that returned there runs no later statement.
        Also sets it as the current path."""
        for cond, _ in self._returns[start:]:
            if cond is not None:
                path = ~cond if path is None else (path & ~cond)
        self._path = path
        return path

    # -- conversions -----------------------------------------------------
    def to_col(self, s: Sym) -> Column:
        if isinstance(s, SCol):
            return s.col
        if isinstance(s, SConst):
            return F.lit(s.value)
        if isinstance(s, SRow):
            return self.to_col(self._row_tuple())
        if isinstance(s, STuple):
            if not s.items:
                raise CompileError("empty tuple value (no Spark struct)")
            return F.struct(*[self.to_col(i).alias(f"_{n}")
                              for n, i in enumerate(s.items)])
        if isinstance(s, SDict):
            return F.struct(*[self.to_col(v).alias(k)
                              for k, v in s.items.items()])
        if isinstance(s, SMatch):
            return self.truthy(s)
        if isinstance(s, SVariant):
            return s.col
        raise CompileError(f"cannot materialize {type(s).__name__}")

    def _as(self, s: Sym, tag: str, elem: str | None = None,
            exact: bool = False) -> Column:
        """``s`` as one arm of a value tagged ``tag`` (``elem`` for an
        array's or set's elements), as ``_unify_arms`` chose them: a
        numeric arm, array or set of another tag is cast along the
        lattice, so a bool beside an int is 1, as ``typeutils.coerce``
        has it on the interpreter path.  Null arms stay uncast; Spark
        types them.
        ``exact`` casts every arm: a fold's struct fields must carry
        the exact Spark type (``len`` gives an int tag on a 32-bit
        column, a ``None`` start has no type)."""
        c = self.to_col(s)
        if exact or (tag in _NUM_TAGS and s.tag not in (tag, "null")):
            return c.cast(tag_to_spark(tag).simpleString())
        if tag in ("array", "set") and elem in _NUM_TAGS \
                and _elem_tag(s) not in (elem, "null"):
            return c.cast(f"array<{tag_to_spark(elem).simpleString()}>")
        return c

    def truthy(self, s: Sym) -> Column:
        if isinstance(s, SJson):
            return self._json_truthy(s)
        if isinstance(s, SVariant):
            # per-tag Python truthiness: None -> False, bool as-is,
            # numbers != 0, strings != ''
            c = s.col
            expr = F.lit(False)
            for t in s.present:
                name, _, code = _VARIANT_FIELDS[t]
                v = c.getField(name)
                tv = (F.coalesce(v, F.lit(False)) if t == "bool"
                      else F.coalesce(v != F.lit(""), F.lit(False))
                      if t == "str"
                      else F.coalesce(v != 0, F.lit(False)))
                expr = F.when(c.getField("__vt") == code, tv) \
                    .otherwise(expr)
            return expr
        if isinstance(s, SConst):
            return F.lit(bool(s.value))
        if isinstance(s, SMatch):
            return self.to_col(s.subject).rlike(s.pattern)
        if isinstance(s, (STuple, SDict)):
            return F.lit(bool(s.items))
        t = s.tag
        c = s.col if isinstance(s, SCol) else self.to_col(s)
        if t == "bool":
            return F.coalesce(c, F.lit(False)) if s.nullable else c
        if t in ("int", "float"):
            return F.coalesce(c != 0, F.lit(False))
        if t == "str":
            return F.coalesce(F.length(c) != 0, F.lit(False))
        if t in ("array", "set"):
            return F.coalesce(F.size(c) != 0, F.lit(False))
        if t == "map":
            return F.coalesce(F.size(F.map_keys(c)) != 0, F.lit(False))
        if t == "null":
            return F.lit(False)
        return c.isNotNull()

    def num(self, s: Sym, ctx: str = "arithmetic") -> Sym:
        """Coerce to numeric; guard None (CPython raises TypeError)."""
        if isinstance(s, SConst):
            if s.value is None:
                self.guard(F.lit(True), "TypeError")
                return SConst(0)
            if isinstance(s.value, (bool, int, float)):
                return s
            raise CompileError(f"non-numeric constant in {ctx}")
        if isinstance(s, SCol):
            if s.tag == "bool":
                out = SCol(s.col.cast("long"), "int", s.nullable)
            elif s.tag in ("int", "float"):
                out = s
            elif s.tag in ("any", "null"):
                out = SCol(s.col.cast("double"), "float", True)
            else:
                raise CompileError(f"{s.tag} value in {ctx}")
            if s.nullable:
                self.guard(s.col.isNull(), "TypeError")
            return out
        raise CompileError(f"cannot use {type(s).__name__} in {ctx}")

    # ================================================================ statements
    def exec_block(self, stmts, path: Column | None) -> bool:
        """Execute statements symbolically. Returns True when every control
        path has returned/raised."""
        prev_path = self._path
        try:
            return self._exec_block_inner(stmts, path)
        finally:
            self._path = prev_path

    def _exec_block_inner(self, stmts, path: Column | None) -> bool:
        self._path = path
        for i, st in enumerate(stmts):
            if isinstance(st, ast.Return):
                val = self.eval(st.value) if st.value is not None else SConst(None)
                self._returns.append((path, val))
                return True
            if isinstance(st, ast.Raise):
                # re-raise shapes first: bare `raise` inside a handler
                # re-raises the in-flight exception; `raise <as-name>`
                # (a _Reraise from _ExcReads) re-raises the one its
                # handler caught.  Both re-emit the ORIGINAL
                # per-guard (code, message, args) under the current path
                # — exact CPython re-raise identity.
                if isinstance(st.exc, _Reraise):
                    self._emit_reraise(st.exc.sym, path)
                    return True
                if st.exc is None:
                    if self._reraise_ctx:
                        self._emit_reraise(self._reraise_ctx[-1], path)
                        return True
                    # CPython: bare raise with no active exception
                    self.guard(F.lit(True), "RuntimeError",
                               msg="No active exception to re-raise")
                    self._returns.append((path, SRaised()))
                    return True
                # self._path == path here, so guard() conditions the raise
                exc_name = self._exc_name(st.exc)
                # record str(e) when it's statically derivable: CPython
                # str(Exc()) == "", str(Exc(a)) == str(a) — and e.args
                # as the evaluated arg Syms.  Args are evaluated BEFORE
                # the raise guard, so an exception inside the arg
                # expression wins per first-raise order, exactly like
                # CPython's eval-then-raise.  Uncompilable args roll
                # their speculative guards back and just skip the
                # message/args (handler str(e)/e.args reads then fall
                # back).
                rmsg: Column | str | None = None
                rargs: list | None = None
                if isinstance(st.exc, ast.Name) \
                        or (isinstance(st.exc, ast.Call)
                            and not st.exc.keywords
                            and not st.exc.args):
                    rmsg = ""
                    rargs = []
                elif (isinstance(st.exc, ast.Call)
                        and not st.exc.keywords
                        and not any(isinstance(a, ast.Starred)
                                    for a in st.exc.args)):
                    # round 11: multi-arg raises record their args too
                    # (repr(e)/e.args over same-arity sites compile);
                    # str(e) stays 1-arg-only — the multi-arg message
                    # is the str of the args TUPLE, not derivable from
                    # _to_str of a single Sym
                    with self._speculate():
                        rargs = [self.eval(a) for a in st.exc.args]
                    if rargs is not None and len(rargs) == 1:
                        with self._speculate():
                            rmsg = self._to_str(rargs[0])
                self.guard(F.lit(True), exc_name, msg=rmsg, args=rargs)
                self._returns.append((path, SRaised()))
                return True
            if isinstance(st, ast.Assert):
                cond = self.truthy(self.eval(st.test))
                # assert msg evaluates ONLY on failure (CPython): mask
                # its guards by ~cond so a raising msg expression can't
                # fail rows whose assertion holds
                amsg: Column | str | None = "" if st.msg is None else None
                # late round 12: record CPython's args — () for a bare
                # assert, (msg_value,) with a message (the ORIGINAL
                # value, not its str)
                aargs: list | None = [] if st.msg is None else None
                if st.msg is not None:
                    with self._speculate(), self._under_path(~cond):
                        msym = self.eval(st.msg)
                        amsg = self._to_str(msym)
                        aargs = [msym]
                self.guard(~cond, "AssertionError", msg=amsg, args=aargs)
                continue
            if isinstance(st, ast.Pass):
                continue
            if isinstance(st, ast.Expr):
                # bare expression statements must still evaluate: they can
                # raise (guards) or mutate (dict.pop) exactly like CPython
                self.eval(st.value)
                continue
            if isinstance(st, ast.Assign):
                val = self._maybe_stage(st.value, self.eval(st.value))
                for tgt in st.targets:
                    self._assign(tgt, val)
                continue
            if isinstance(st, ast.AugAssign):
                if not isinstance(st.target, ast.Name):
                    raise CompileError("augmented assign target")
                cur = self.eval(ast.Name(id=st.target.id, ctx=ast.Load()))
                val = self._binop(st.op, cur, self.eval(st.value))
                self._locals[st.target.id] = self._maybe_stage(st, val)
                continue
            if isinstance(st, ast.AnnAssign):
                if st.value is not None:
                    self._assign(st.target, self.eval(st.value))
                continue
            if isinstance(st, ast.For):
                done, path = self._exec_for(st, path)
                if done:
                    return True
                continue
            if isinstance(st, ast.Try):
                done, path = self._exec_try(st, path)
                if done:
                    return True
                continue
            if isinstance(st, ast.While):
                done, path = self._exec_while(st, path)
                if done:
                    return True
                continue
            if isinstance(st, ast.If):
                test = self.eval(st.test)
                if isinstance(test, SConst):
                    # statically decidable (constant, or an unrolled
                    # loop's break/continue guard over literal indices):
                    # execute only the taken branch — no when() merge,
                    # no flag columns
                    taken = st.body if test.value else st.orelse
                    if self.exec_block(taken, path):
                        return True
                    continue
                cond = self.truthy(test)
                saved = dict(self._locals)
                t_path = cond if path is None else (path & cond)
                f_path = ~cond if path is None else (path & ~cond)
                self._branch_depth += 1
                try:
                    t_term = self.exec_block(st.body, t_path)
                    t_env = self._locals
                    self._locals = dict(saved)
                    f_term = self.exec_block(st.orelse, f_path)
                    f_env = self._locals
                finally:
                    self._branch_depth -= 1
                if t_term and f_term:
                    return True
                if t_term:
                    self._locals = f_env
                    path = f_path
                    self._path = path
                elif f_term:
                    self._locals = t_env
                    path = t_path
                    self._path = path
                else:
                    self._locals = self._merge_envs(cond, t_env, f_env, saved)
                continue
            raise CompileError(f"unsupported statement {type(st).__name__}")
        return False

    def _maybe_stage(self, value_node, val: Sym) -> Sym:
        """Replace a non-trivial assignment value with a staged
        projection column (computed for every row regardless of branch —
        safe because Column exprs never raise under non-ANSI; guards are
        path-conditioned separately)."""
        if self._hof_depth > 0:
            return val
        if not isinstance(val, SCol):
            return val
        if sum(1 for _ in ast.walk(value_node)) < 4:
            return val  # bare refs/tiny exprs: staging buys nothing
        return self._stage_sym(val)

    def _assign(self, tgt, val: Sym):
        if isinstance(tgt, ast.Name):
            self._locals[tgt.id] = val
            return
        if isinstance(tgt, ast.Subscript) \
                and isinstance(tgt.value, ast.Name) \
                and isinstance(self._locals.get(tgt.value.id), SDict):
            # d["k"] = v on a local dict: rebind a copy with the entry
            # set (dict VALUES may be dynamic; keys must be literal).
            # Aliased mutation (d2 = d; d["k"] = v observed via d2) is
            # not modeled — such UDFs fall back via other constructs in
            # practice; the reference's compiled dicts are likewise
            # value-semantics structs.
            key = tgt.slice
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                d = self._locals[tgt.value.id]
                items = dict(d.items)
                items[key.value] = val
                self._locals[tgt.value.id] = SDict(items)
                return
            raise CompileError("dict subscript-assign needs a literal key")
        if isinstance(tgt, ast.Tuple):
            if isinstance(val, SRow):
                val = self._row_tuple()
            if isinstance(val, SConst) and isinstance(val.value,
                                                      (list, tuple)):
                val = STuple([SConst(v) for v in val.value])
            if isinstance(val, STuple) and len(tgt.elts) == len(val.items):
                for t, v in zip(tgt.elts, val.items):
                    self._assign(t, v)
                return
        raise CompileError("unsupported assignment target")

    # ---------------------------------------------------------------- loops
    # The reference compiles for/while + iterator builtins natively
    # (SymbolTable.cc:150-364, ASTNodes.h NFor/NWhile/NRange).  Here the
    # Spark-idiomatic split is:
    #   * statically-known iterables (range/list literals/enumerate/zip of
    #     constants) UNROLL into a flat statement list, so the existing
    #     If/Return path machinery handles control flow across iterations;
    #   * accumulation loops over DYNAMIC array expressions (the
    #     tokenize-in-a-loop shape) lower to one F.aggregate with a struct
    #     accumulator — a single JVM higher-order function, no Python.
    # Anything else (while, break/continue, returns inside dynamic loops,
    # guard-raising fold bodies) falls back to the Arrow path.

    _MAX_UNROLL = 32

    def _exec_for(self, st: ast.For, path: Column | None):
        """Returns (all_paths_terminated, narrowed_path).  The narrowing
        matters: a conditional ``return`` INSIDE the loop must stop later
        statements' guards from firing on rows that already returned —
        ``for i in range(2): if x == 0: return -1`` followed by
        ``return 10 // x`` raises for no row in CPython."""
        vals = self._static_iter(st.iter)
        if vals is not None:
            if st.orelse:
                raise CompileError("for-else")
            if len(vals) > self._MAX_UNROLL:
                raise CompileError(f"static loop longer than "
                                   f"{self._MAX_UNROLL} iterations")
            if any(_contains_break_continue(s) for s in st.body):
                stmts = self._unroll_with_break(st, vals)
            else:
                stmts = []
                for v in vals:
                    stmts.append(ast.Assign(targets=[st.target],
                                            value=_SymExpr(v)))
                    stmts.extend(st.body)
            # branch merges inside the unrolled body are STAGED
            # (_merge_vals): k sequential ifs mutating one accumulator
            # otherwise nest it 2 refs deeper per iteration — a 2^k
            # expression tree that stalls plan serialization
            self._unroll_depth += 1
            start = len(self._returns)
            try:
                if self.exec_block(stmts, path):
                    return True, path
            finally:
                self._unroll_depth -= 1
            return False, self._narrow(path, start)
        if self._is_first_match(st):
            # the filter/element_at fast path can't host a
            # guard-raising predicate (a guard can't be conditioned
            # per element inside F.filter); fall THROUGH to the fold,
            # whose r11 guard-capture accumulators express exactly
            # that — the raise fires at the first raising element of
            # any not-yet-returned row, CPython's order (round 12;
            # previously the whole UDF fell back to Arrow)
            with self._speculate():
                return self._exec_for_first_match(st, path)
        if st.orelse:
            raise CompileError("for-else")
        ret = self._exec_for_fold(st, path)
        if ret is not None:
            # round 11: returns MIXED with accumulation — the fold
            # lowered each `return EXPR` to (value, flag) accumulators
            # + break, so the loop stopped updating at the return
            # point; emit the return under the flag condition and
            # narrow the path like any conditional return
            rv_name, rf_name = ret
            rcond = F.coalesce(self.to_col(self._locals[rf_name]),
                               F.lit(False))
            ret_path = rcond if path is None else (path & rcond)
            self._returns.append((ret_path, self._locals[rv_name]))
            path = ~rcond if path is None else (path & ~rcond)
            self._path = path
            self._locals.pop(rv_name, None)
            self._locals.pop(rf_name, None)
        return False, path

    @staticmethod
    def _is_first_match(st: ast.For) -> bool:
        """``for t in <dynamic>: if cond(t): return expr(t)`` — the
        first-match scan idiom (find the first token satisfying a
        predicate).  The reference compiles this via its native loop
        codegen (ASTNodes.h NFor + early return); here it lowers to
        ``element_at(filter(arr, cond), 1)`` — pure JVM, no Python."""
        return (len(st.body) == 1 and isinstance(st.body[0], ast.If)
                and not st.body[0].orelse
                and len(st.body[0].body) == 1
                and isinstance(st.body[0].body[0], ast.Return))

    def _exec_for_first_match(self, st: ast.For, path: Column | None):
        cond_node = st.body[0].test
        ret_node = st.body[0].body[0].value
        arr, tags, is_struct, _arr_nullable = self._iter_array(st.iter)

        def cond_fn(x):
            out, caught = self._lambda_scope(
                self._loop_target_syms(st.target, x, tags, is_struct),
                lambda: self.truthy(self.eval(cond_node)))
            if caught:
                # the predicate runs on EVERY element; a guard-raising
                # predicate can't be path-conditioned per element
                raise CompileError("guard-raising first-match predicate")
            return out

        matched = F.filter(arr, cond_fn)
        if self._hof_depth == 0:
            # stage the filtered array once; the hit test, the matched
            # element, and every guard in the return expression reference
            # it instead of re-inlining filter(arr, ...) per use
            matched = self._stage(matched)
        # null array: the fold path yields a null accumulator rather than
        # CPython's TypeError (documented trade-off); mirror it here by
        # treating null as "no match"
        hit = F.coalesce(F.size(matched) >= 1, F.lit(False))
        ret_path = hit if path is None else (path & hit)
        saved_locals = dict(self._locals)
        prev_path = self._path
        self._path = ret_path  # guards in the return expr fire only on hit
        self._branch_depth += 1
        try:
            self._locals.update(self._loop_target_syms(
                st.target, F.element_at(matched, 1), tags, is_struct))
            val = self.eval(ret_node) if ret_node is not None \
                else SConst(None)
        finally:
            self._branch_depth -= 1
            self._locals = saved_locals
            self._path = prev_path
        self._returns.append((ret_path, val))
        path = ~hit if path is None else (path & ~hit)
        self._path = path
        # CPython leaves the loop var bound to the matched/last element;
        # drop the binding (a pre-loop binding would now be stale) so a
        # later reference becomes CompileError -> Arrow fallback
        for n in _target_names(st.target):
            self._locals.pop(n, None)
        # for-else (no break in this shape, so CPython runs it iff the
        # loop didn't return): execute under the no-match path
        if st.orelse:
            start = len(self._returns)
            if self.exec_block(st.orelse, path):
                return True, path
            path = self._narrow(path, start)
        return False, path

    def _exec_try(self, st: ast.Try, path: Column | None):
        """Compile ``try/except``: guards the body emits whose exception
        class matches a handler become BRANCH conditions (the handler's
        arm) instead of row failures — `try: return int(s) except
        ValueError: return -1` is one when() chain, no Python.  The
        reference cannot compile try at all (resolvers are external).

        Handler dispatch follows CPython's first-raise semantics: guards
        are classified in emission order and each condition is masked by
        the disjunction of earlier raising conditions, so the handler
        (or failure) of the FIRST raising subexpression wins per row.

        ``else`` runs under the no-body-raise condition and its guards
        are NOT caught by this try's handlers (CPython); ``finally``
        executes unconditionally at the end — value-consistent because
        CPython evaluates return values BEFORE finally runs.  Handlers
        that read body-assigned names see their values AS OF the raise
        point (per-guard snapshots, merged by disjoint raise
        conditions) — including across NESTED tries: each guard's
        snapshot holds the names every enclosing level reads, and a
        kept guard carries it out of an inner try.  A handler's reads of
        its ``as`` name are found and replaced in one pass (_ExcReads,
        which lists the read shapes and the scope rule); each read is
        merged over the raise sites feeding the handler (_exc_sym), and
        bare ``raise`` / ``raise e`` re-emit the original per-guard
        code, message and args under the handler path.  Still falling
        back: any other use of the name, str(e)/e.args/repr(e) for a
        raise site without a record (e.g. KeyError args, Unicode
        5-tuples), and raising/returning/breaking finally bodies (an
        exception in finally REPLACES the in-flight one, which the
        append-only guard model cannot express).

        Returns (all_paths_terminated, narrowed_path)."""
        for s in st.finalbody:
            if _contains_break_continue(s) or any(
                    isinstance(n, ast.Return) for n in ast.walk(s)):
                raise CompileError("control flow in finally")
        handler_codes: list[set[int] | None] = []
        for h in st.handlers:
            if h.type is None:
                handler_codes.append(None)  # bare except: catches all
            else:
                elts = h.type.elts if isinstance(h.type, ast.Tuple) \
                    else [h.type]
                codes: set[int] = set()
                for e in elts:
                    if not isinstance(e, ast.Name):
                        raise CompileError("except class shape")
                    codes |= codes_caught_by(e.id)
                handler_codes.append(codes)
        body_assigned = {n.id for bs in st.body for n in ast.walk(bs)
                         if isinstance(n, ast.Name)
                         and isinstance(n.ctx, ast.Store)}
        handler_reads: set[str] = set()
        for h in st.handlers:
            handler_reads |= {n.id for hs in h.body for n in ast.walk(hs)
                              if isinstance(n, ast.Name)
                              and isinstance(n.ctx, ast.Load)}
        rw = handler_reads & body_assigned

        saved = dict(self._locals)
        n_guards = len(self.guards)
        start_returns = len(self._returns)
        self._branch_depth += 1  # blocks dict mutation aliasing inside
        try:
            # handlers see body-assigned names AS OF the raise point
            # (CPython handler scope): guard() records them per guard
            self._snap_stack.append(rw)
            try:
                body_term = self.exec_block(st.body, path)
            finally:
                self._snap_stack.pop()
            body_env = self._locals
            new_guards = self.guards[n_guards:]
            del self.guards[n_guards:]
            # each guard under its first-raise condition: kept ones
            # stay row failures, the others feed their handler
            per_handler: list[list[_Guard]] = [[] for _ in st.handlers]
            prior: Column | None = None
            for g in new_guards:
                hi = next((i for i, hc in enumerate(handler_codes)
                           if hc is None or g.code in hc), None)
                eff = g._replace(
                    cond=g.cond if prior is None else (g.cond & ~prior))
                if hi is None:
                    self.guards.append(eff)
                else:
                    per_handler[hi].append(eff)
                prior = g.cond if prior is None else (prior | g.cond)
            handled = None
            for conds in per_handler:
                for g in conds:
                    handled = g.cond if handled is None \
                        else (handled | g.cond)
            # ---- else: only when the body completed without raising --
            else_term = False
            if st.orelse and not body_term:
                e_path = path if handled is None else \
                    (~handled if path is None else (path & ~handled))
                self._locals = body_env
                else_term = self.exec_block(st.orelse, e_path)
                body_env = self._locals
            norm_term = body_term or else_term
            if handled is None:
                # no handler-matching guard: the try wrapper is inert
                self._locals = body_env
                self._run_finally(st, path, n_guards)
                return norm_term, path
            # body returns stand only where no handled raise fired
            for i in range(start_returns, len(self._returns)):
                c, v = self._returns[i]
                base = path if c is None else c
                nc = ~handled if base is None else (base & ~handled)
                self._returns[i] = (nc, v)
            # run each handler under its raise condition, merging locals
            env = body_env
            all_term = norm_term
            for h, conds in zip(st.handlers, per_handler):
                if not conds:
                    continue
                hcond = conds[0].cond
                for g in conds[1:]:
                    hcond = hcond | g.cond
                hpath = hcond if path is None else (path & hcond)
                hbody = h.body
                if h.name:
                    reads = _ExcReads(
                        h.name, conds, lambda k: self._exc_sym(k, conds))
                    hbody = [reads.visit(copy.deepcopy(s)) for s in h.body]
                self._locals = dict(saved)
                # bind body-assigned names the handler reads to their
                # raise-point values
                for name in rw:
                    arms = []
                    for g in conds:
                        s = g.snap.get(name, saved.get(name))
                        if s is None:
                            raise CompileError(
                                "handler reads possibly-unbound name")
                        arms.append((g.cond, s))
                    self._locals[name] = self._merge_sites(arms)
                # a bare `raise` inside this handler re-emits the
                # original per-guard code+message+args
                self._reraise_ctx.append(conds)
                try:
                    h_term = self.exec_block(hbody, hpath)
                finally:
                    self._reraise_ctx.pop()
                h_env = self._locals
                all_term = all_term and h_term
                env = self._merge_envs(hcond, h_env, env, saved)
            self._locals = env
            self._run_finally(st, path, n_guards)
            if all_term:
                return True, path
            # narrow for returns captured inside this construct
            return False, self._narrow(path, start_returns)
        finally:
            self._branch_depth -= 1

    def _merge_sites(self, arms: list[tuple[Column, Sym]]) -> Sym:
        """One value per raise site feeding a handler, as (site
        condition, value) pairs, merged into the value of the site that
        raised on the row.  The conditions are disjoint (each is masked
        by the earlier ones), so the last site needs no condition."""
        merged = arms[-1][1]
        for cond, v in reversed(arms[:-1]):
            merged = self._merge_vals(cond, v, merged)
        return merged

    def _exc_sym(self, kind: str, conds: list[_Guard]) -> Sym:
        """A handler's read of its caught exception (a kind of
        _exc_read_kind), merged over the raise sites ``conds`` that feed
        it.  The class is static per site.  ``str(e)`` needs each site's
        recorded message.  ``e.args`` is the recorded args, or
        ``(str(e),)`` for the one-string-arg builtins; sites of mixed
        arity give an SArgsTuple.  ``repr(e)`` is CPython's
        ``TypeName(repr(arg), ...)`` over those args (float args fall
        back: Python's float repr drifts from Spark's cast).  A site
        without the record it needs sends the UDF to the exact
        fallback, never a made-up value."""
        if kind == "typename":
            return self._merge_sites(
                [(g.cond, SConst(name_for_code(g.code))) for g in conds])
        if kind == "message":
            if any(g.msg is None for g in conds):
                raise CompileError("handler reads str(e) for a raise "
                                   "site without a recorded message")
            return self._merge_sites(
                [(g.cond, SCol(g.msg, "str", False)) for g in conds])
        per = []
        for g in conds:
            if g.args is not None:
                per.append((g, g.args))
            elif name_for_code(g.code) in _ARGS_IS_MESSAGE \
                    and g.msg is not None:
                per.append((g, [SCol(g.msg, "str", False)]))
            else:
                what = "e.args" if kind == "args" else "repr(e)"
                raise CompileError(f"handler reads {what} for a raise "
                                   "site without recorded args")
        if kind == "args":
            if len({len(a) for _, a in per}) > 1:
                # the length is data-dependent: no static tuple
                return SArgsTuple(
                    [(g.cond, a) for g, a in per], self._merge_sites(
                        [(g.cond, SConst(len(a))) for g, a in per]))
            return STuple([self._merge_sites([(g.cond, a[j])
                                              for g, a in per])
                           for j in range(len(per[0][1]))])
        arms = []
        for g, a in per:
            parts = []
            for v in a:
                tg = getattr(v, "tag", None)
                if tg == "str":
                    parts.append(_py_str_repr(self.to_col(v)))
                elif tg == "int":
                    parts.append(self.to_col(v).cast("string"))
                elif tg == "bool":
                    parts.append(F.when(self.to_col(v), F.lit("True"))
                                 .otherwise(F.lit("False")))
                else:
                    raise CompileError(f"repr(e) over a {tg} raise-site arg")
            inner = [p for part in parts for p in (F.lit(", "), part)][1:]
            nm = name_for_code(g.code)
            arms.append((g.cond, SCol(
                F.concat(F.lit(nm + "("), *inner, F.lit(")"))
                if inner else F.lit(nm + "()"), "str", False)))
        return self._merge_sites(arms)

    def _emit_reraise(self, entries, path: Column | None) -> None:
        """Re-emit the original guards of the exception a handler is
        re-raising: one guard per feeding raise site, each under its
        (disjoint) raise condition AND the current path — so the row's
        code and recorded message survive the handler exactly as
        CPython's bare ``raise`` propagates the in-flight exception."""
        for g in entries:
            self.guard(g.cond, name_for_code(g.code), msg=g.msg, args=g.args)
        self._returns.append((path, SRaised()))

    def _run_finally(self, st: ast.Try, path: Column | None,
                     n_guards: int) -> None:
        """Execute a finally block unconditionally (side effects merge
        into the current env).  CPython REPLACES an in-flight exception
        with one raised in finally: guards the finally block emits MASK
        every guard this try construct emitted (body kept + handlers +
        else, i.e. list indices >= ``n_guards``) so the finally class
        wins for doubly-raising rows.  Guards from BEFORE the try stay
        first-fail — those rows never entered the try."""
        if not st.finalbody:
            return
        m = len(self.guards)
        r0 = len(self._returns)
        if self.exec_block(st.finalbody, path) \
                or len(self._returns) != r0:
            raise CompileError("return inside finally")
        new = self.guards[m:]
        if new:
            f_any = None
            for g in new:
                f_any = g.cond if f_any is None else (f_any | g.cond)
            for i in range(n_guards, m):
                g = self.guards[i]
                self.guards[i] = g._replace(cond=g.cond & ~f_any)

    def _exec_while(self, st: ast.While, path: Column | None):
        """Compile ``while`` by one ladder for every loop:

        1. the static unroll (_exec_while_unroll), speculatively: when
           the test and every break fold to constants, later statements
           keep the loop's constants;
        2. the counter rewrites to a for-range fold: increment-first
           (exact with break and continue, because the counter moves
           before either can skip anything; tried only for a loop that
           has one), then increment-last (not with ``continue``, which
           would skip the increment: CPython loops forever where the
           range fold ends);
        3. the ``while True`` respellings (_while_true_break_rewrite),
           which run this ladder on the respelled loop;
        4. the convergence fold (_while_convergence_fold).

        The first of 2-4 that recognizes the loop decides it: if its
        lowering fails, the loop falls back.
        Returns (all_paths_terminated, narrowed_path)."""
        if st.orelse:
            raise CompileError("while-else")
        with self._speculate():
            return self._exec_while_unroll(st, path)
        if any(_contains_break_continue(s) for s in st.body):
            rewritten = self._while_counter_rewrite(st, inc_first=True)
            if rewritten is not None:
                return self._exec_for(rewritten, path)
        if not any(_contains_continue(s) for s in st.body):
            rewritten = self._while_counter_rewrite(st, inc_first=False)
            if rewritten is not None:
                return self._exec_for(rewritten, path)
        done = self._while_true_break_rewrite(st, path)
        if done is not None:
            return done
        self._while_convergence_fold(st)
        return False, path

    _INV_CMP = {ast.Gt: ast.LtE, ast.GtE: ast.Lt, ast.Lt: ast.GtE,
                ast.LtE: ast.Gt, ast.Eq: ast.NotEq, ast.NotEq: ast.Eq,
                ast.In: ast.NotIn, ast.NotIn: ast.In,
                ast.Is: ast.IsNot, ast.IsNot: ast.Is}

    @classmethod
    def _invert_test(cls, cond):
        """Negate a loop-exit condition into a loop-continue condition.
        Single-op compares invert their operator (so the contraction
        recognizer, which needs a bare Compare, still matches); `not x`
        unwraps; anything else wraps in Not.  NOTE: operator inversion
        flips unordered (NaN) comparisons — a row whose ORIGINAL
        while-True loop would spin forever on a NaN driver exits the
        rewritten loop immediately instead; the engine's standing
        policy already replaces never-terminating rows (RuntimeError
        guards in the convergence folds), it never reproduces a hang."""
        if isinstance(cond, ast.Compare) and len(cond.ops) == 1 \
                and type(cond.ops[0]) in cls._INV_CMP:
            new = ast.Compare(left=cond.left,
                              ops=[cls._INV_CMP[type(cond.ops[0])]()],
                              comparators=cond.comparators)
        elif isinstance(cond, ast.UnaryOp) and isinstance(cond.op, ast.Not):
            new = cond.operand
        else:
            new = ast.UnaryOp(op=ast.Not(), operand=cond)
        ast.fix_missing_locations(ast.copy_location(new, cond))
        return new

    def _while_true_break_rewrite(self, st: ast.While, path):
        """``while True: if c: break; rest``  ==  ``while not c: rest``,
        the do-while spelling ``while True: body; if c: break``  ==
        ``body; while not c: body``, and (round 11) the single MID-BODY
        break ``while True: A; if c: break; B``  ==
        ``A; while not c: B; A`` — exact respellings (the break is the
        loop's only exit, checked at the same program points), so the
        rewritten loop rides whatever _exec_while machinery fits
        (static unroll, counter rewrite, contraction/convergence fold)
        and falls back exactly when the respelled loop would.  Returns
        the (terminated, path) result, or None when the shape doesn't
        match (more than one break/continue, non-constant test)."""
        test = st.test
        if not (isinstance(test, ast.Constant) and test.value):
            return None

        def is_break_if(s):
            return (isinstance(s, ast.If) and not s.orelse
                    and len(s.body) == 1
                    and isinstance(s.body[0], ast.Break))

        body = list(st.body)
        if len(body) < 2:
            return None
        if is_break_if(body[0]):
            # EXACT regardless of what follows: both forms check c at
            # the same program point, and any further break/continue
            # in the rest binds identically to the respelled loop
            # (round 12 — previously required a break-free rest; the
            # remaining breaks now ride the counter folds' flag
            # lowering or the break-tolerant convergence fold)
            w = ast.copy_location(
                ast.While(test=self._invert_test(body[0].test),
                          body=body[1:], orelse=[]), st)
            ast.fix_missing_locations(w)
            return self._exec_while(w, path)
        if is_break_if(body[-1]) \
                and not any(_contains_break_continue(s) for s in body[:-1]):
            pre = body[:-1]
            w = ast.copy_location(
                ast.While(test=self._invert_test(body[-1].test),
                          body=pre, orelse=[]), st)
            ast.fix_missing_locations(w)
            # do-while: run the body once, narrowing the path past any
            # conditional returns (same pattern as the unroll loop)
            start = len(self._returns)
            if self.exec_block(pre, path):
                return True, path
            return self._exec_while(w, self._narrow(path, start))
        # mid-body: the rotated loop body B;A re-checks c at the same
        # program point CPython does (after A, before B), and the
        # one-time prefix run of A matches CPython's first iteration —
        # A's statements are shared AST nodes between the prefix and
        # the loop body (read-only traversals, so sharing is safe)
        # prefix A must be break/continue-free (it runs ONCE outside
        # any loop); B may contain further breaks (they exit without
        # re-running A in both spellings — round 12) but not continue
        # (original order after continue-in-B is A-then-test; rotated
        # is test-then-A)
        for i in range(1, len(body) - 1):
            if is_break_if(body[i]) \
                    and not any(_contains_break_continue(s)
                                for s in body[:i]) \
                    and not any(_contains_continue(s)
                                for s in body[i + 1:]):
                pre = body[:i]
                w = ast.copy_location(
                    ast.While(test=self._invert_test(body[i].test),
                              body=body[i + 1:] + pre, orelse=[]), st)
                ast.fix_missing_locations(w)
                start = len(self._returns)
                if self.exec_block(pre, path):
                    return True, path
                return self._exec_while(w, self._narrow(path, start))
        return None

    def _while_counter_rewrite(self, st: ast.While, inc_first: bool):
        """``while i < stop: ...; i += 1`` with a DATA-DEPENDENT stop
        rewrites to ``for i in range(i0, stop): ...`` and takes the
        dynamic fold path (one F.aggregate, no Python).  With
        ``inc_first`` the increment is the body's FIRST statement
        (``while i < stop: i += 1; rest``) and the loop becomes ``for
        __wi in range(i0, stop): i = __wi + 1; rest`` — exact even when
        rest holds break/continue, because CPython has already advanced
        the counter before either can transfer control; otherwise it is
        the LAST statement.  Conditions: the test is ``i < stop`` /
        ``i <= stop`` (either operand order), nothing else assigns i,
        and the stop expression is loop-invariant (reads no name the
        body assigns).  Returns the synthesized ast.For or None."""
        t = st.test
        if not (isinstance(t, ast.Compare) and len(t.ops) == 1):
            return None
        op = t.ops[0]
        left, right = t.left, t.comparators[0]
        if isinstance(left, ast.Name) and isinstance(op, (ast.Lt, ast.LtE)):
            var, stop_node, le = left.id, right, isinstance(op, ast.LtE)
        elif isinstance(right, ast.Name) \
                and isinstance(op, (ast.Gt, ast.GtE)):
            var, stop_node, le = right.id, left, isinstance(op, ast.GtE)
        else:
            return None
        if not st.body:
            return None
        inc = st.body[0] if inc_first else st.body[-1]
        if not (isinstance(inc, ast.AugAssign)
                and isinstance(inc.op, ast.Add)
                and isinstance(inc.target, ast.Name)
                and inc.target.id == var
                and isinstance(inc.value, ast.Constant)
                and inc.value.value == 1):
            return None
        rest = st.body[1:] if inc_first else st.body[:-1]
        assigned = {n.id for bs in rest for n in ast.walk(bs)
                    if isinstance(n, ast.Name)
                    and isinstance(n.ctx, ast.Store)}
        if var in assigned:
            return None
        stop_reads = {n.id for n in ast.walk(stop_node)
                      if isinstance(n, ast.Name)
                      and isinstance(n.ctx, ast.Load)}
        if stop_reads & (assigned | {var}):
            return None  # stop must be loop-invariant
        start_sym = self._locals.get(var)
        if getattr(start_sym, "tag", None) != "int":
            return None  # a range counts in ints, not from 0.5 or True
        stop_sym = self.eval(stop_node)
        stop_sym = self.num(stop_sym, "while bound")
        if stop_sym.tag == "float":
            # i < 2.5 runs i = 0,1,2: ceil the bound (<=: floor + 1
            # handled by the +1 below only for ints — float <= bound
            # edge (i == bound exactly) differs, so reject <=)
            if le:
                raise CompileError("while <= float bound")
            stop_sym = SCol(F.ceil(self.to_col(stop_sym)).cast("long"),
                            "int", stop_sym.nullable)
        elif le:
            stop_sym = self._binop(ast.Add(), stop_sym, SConst(1))
        if inc_first:
            target = f"__wi{self._fresh_id()}"
            body = [ast.Assign(
                targets=[ast.Name(id=var, ctx=ast.Store())],
                value=ast.BinOp(left=ast.Name(id=target, ctx=ast.Load()),
                                op=ast.Add(),
                                right=ast.Constant(value=1)))] + rest
        else:
            target, body = var, rest if rest else [ast.Pass()]
        return ast.For(
            target=ast.Name(id=target, ctx=ast.Store()),
            iter=ast.Call(func=ast.Name(id="range", ctx=ast.Load()),
                          args=[_SymExpr(start_sym), _SymExpr(stop_sym)],
                          keywords=[]),
            body=body,
            orelse=[])

    def _exec_while_unroll(self, st: ast.While, path):
        """Unroll a ``while`` whose test folds to a constant on every
        iteration (counter loops with literal bounds, ``while True`` —
        the reference compiles these natively, ASTNodes.h NWhile):
        break/continue lower to flag assignments (the static-for
        scheme) and iterations unroll until the break flag folds to
        True or the test to False.  Conditional returns inside the body
        narrow the path for LATER iterations, so guards in iteration
        k+1 never fire for rows that already returned in iteration k.
        A test or break that stays data-dependent cannot bound the
        unroll (the reference compiles these as real jumps,
        codegen/src/BlockGeneratorVisitor.cc; an expression tree has
        no jumps and no bound to unroll to)."""
        n = self._fresh_id()
        brk, cont = f"__brk{n}", f"__cont{n}"
        lowered = _lower_break_continue(list(st.body), brk, cont)
        self._locals[brk] = SConst(False)
        self._unroll_depth += 1
        try:
            for _ in range(self._MAX_UNROLL):
                b = self._locals.get(brk)
                if not isinstance(b, SConst):
                    raise CompileError("data-dependent break in while")
                if b.value:
                    return False, path
                test = self.eval(st.test)
                if not isinstance(test, SConst):
                    raise CompileError("dynamic while condition")
                if not test.value:
                    return False, path
                start = len(self._returns)
                stmts = [_flag_assign(cont, False)] + lowered
                if self.exec_block(stmts, path):
                    return True, path
                path = self._narrow(path, start)
            raise CompileError("while exceeds unroll limit")
        finally:
            self._unroll_depth -= 1

    # maximum runtime iterations for a compiled convergence while; the
    # per-row analytic bound keeps the sequence tiny for typical rows —
    # this cap only bounds the pathological tail (see the guard below)
    _WHILE_FOLD_CAP = 4096
    _WHILE_FOLD_MARGIN = 4

    def _while_contraction_info(self, st: ast.While):
        """Recognize a data-dependent ``while`` whose termination is
        UNCONDITIONAL and whose iteration count has a per-row analytic
        bound — the contraction-toward-a-constant-threshold shapes:

            while x > t:  x  /= c     (c > 1,      t > 0)
            while x > t:  x  *= c     (0 < c < 1,  t > 0)
            while x > t:  x  -= c     (c > 0,      any t)
            while x < t:  x  += c     (c > 0,      any t)
            while x > t:  x //= c     (int c >= 2, t >= 0; >= needs t >= 1)
            while x < t:  x  *= c     (c > 1; terminates only for
            while x < t:  x  /= c      x0 > 0 — non-positive starts
                                       (0 < c < 1) hang CPython, so they
                                       become guarded RuntimeError rows)

        (either compare orientation; >=, <= variants included — the
        overshoot the bound allows is free because iterations past
        convergence are no-ops).  The reference compiles arbitrary
        whiles natively (codegen/src/BlockGeneratorVisitor.cc); this
        covers the convergence-loop subset where a bound proof exists,
        everything else stays on the exact Arrow fallback.

        Returns (driver_name, kind, c, t) or None.  kind in {'log',
        'sub', 'add'}; for 'log' c is the per-iteration shrink ratio
        > 1 and t the (possibly floor-div-adjusted) bound threshold."""
        t_node = st.test
        if not (isinstance(t_node, ast.Compare) and len(t_node.ops) == 1):
            return None
        op = t_node.ops[0]
        left, right = t_node.left, t_node.comparators[0]
        if isinstance(left, ast.Name):
            var, thr_node, flipped = left.id, right, False
        elif isinstance(right, ast.Name):
            var, thr_node, flipped = right.id, left, True
        else:
            return None
        # normalize to driver-on-the-left orientation
        omap = {ast.Gt: ">", ast.GtE: ">=", ast.Lt: "<", ast.LtE: "<="}
        o = omap.get(type(op))
        if o is None:
            return None
        if flipped:
            o = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}[o]
        thr = self.eval(thr_node)
        if not (isinstance(thr, SConst)
                and isinstance(thr.value, (int, float))
                and not isinstance(thr.value, bool)):
            return None
        t = thr.value
        # body: straight-line assignments, exactly one recognized
        # update of the driver.  Pure break-ifs (``if c: break`` —
        # round 12) are SKIPPED: a break only exits EARLIER, so the
        # contraction bound stays a valid upper bound, and the fold
        # lowers them to a frozen-flag accumulator (any other
        # break-carrying statement could update accumulators — or the
        # driver — without breaking, which would invalidate the bound,
        # so those still reject).
        body_assigned = set(_loop_assigned_names(
            [s for s in st.body
             if not (_is_pure_break_if(s) or _is_pure_continue_if(s))]))
        upd = None
        for s in st.body:
            if _is_pure_break_if(s):
                continue
            if _is_pure_continue_if(s):
                # round 12: a continue AFTER the driver update only
                # skips trailing accumulator statements — the admitted
                # iteration still contracts, so the bound holds; one
                # BEFORE the update could skip it -> reject
                if upd is None:
                    return None
                continue
            if isinstance(s, ast.AugAssign):
                tgts, val, bop = [s.target], s.value, s.op
            elif isinstance(s, ast.Assign):
                tgts, val, bop = s.targets, s.value, None
            else:
                return None
            names = [n.id for tg in tgts for n in ast.walk(tg)
                     if isinstance(n, ast.Name)]
            if var not in names:
                continue
            if upd is not None or len(tgts) != 1 \
                    or not isinstance(tgts[0], ast.Name):
                return None
            if bop is None:
                if not (isinstance(val, ast.BinOp)
                        and isinstance(val.left, ast.Name)
                        and val.left.id == var):
                    return None
                bop, val = val.op, val.right
            step_reads = {n.id for n in ast.walk(val)
                          if isinstance(n, ast.Name)
                          and isinstance(n.ctx, ast.Load)}
            if step_reads & body_assigned:
                return None  # step must be loop-invariant
            cs = self.eval(val)
            if not (isinstance(cs, SConst)
                    and isinstance(cs.value, (int, float))
                    and not isinstance(cs.value, bool)):
                return None
            upd = (type(bop), cs.value)
        if upd is None or var not in self._locals:
            return None
        # the bound derivation needs the threshold to be loop-invariant:
        # any name the test reads (other than the driver) must not be
        # assigned in the body
        thr_reads = {n.id for n in ast.walk(thr_node)
                     if isinstance(n, ast.Name)
                     and isinstance(n.ctx, ast.Load)}
        if thr_reads & body_assigned:
            return None
        x0 = self._locals[var]
        if getattr(x0, "tag", None) not in ("int", "float"):
            return None
        bop, c = upd
        # exact linear bound only when every term is an int (Spark long
        # arithmetic is exact); any float in driver/step/threshold means
        # each `x -= c` can round, so the true iteration count can
        # exceed ceil((x0-t)/c) by far more than the additive margin —
        # the fold then divides by the worst-case EFFECTIVE step instead
        exact = (x0.tag == "int" and isinstance(c, int)
                 and isinstance(t, int))
        if bop is ast.Div and c > 1 and o in (">", ">=") and t > 0:
            return var, "log", float(c), float(t), False
        if bop is ast.Mult and 0 < c < 1 and o in (">", ">=") and t > 0:
            return var, "log", 1.0 / float(c), float(t), False
        # growth toward an upper bound: k = ceil(log(t/x0)/log(c)) for
        # x0 > 0; x0 <= 0 never terminates in CPython -> guarded row.
        # t > 0 is required: with t <= 0 a wrapped long accumulator
        # (x0<0 shifts to exactly 0 within 64 iters) could exit the
        # guard with a silently-wrong 0 where CPython hangs.  t*c <
        # 2^62 keeps the final value (<= t*c) clear of long overflow.
        if bop is ast.Mult and c > 1 and o in ("<", "<=") \
                and 0 < t and abs(t) * c < 2 ** 62:
            return var, "grow", float(c), float(t), False
        if bop is ast.Div and 0 < c < 1 and o in ("<", "<=") \
                and 0 < t and abs(t) / c < 2 ** 62:
            return var, "grow", 1.0 / float(c), float(t), False
        if bop is ast.FloorDiv and isinstance(c, int) and c >= 2 \
                and x0.tag == "int" and isinstance(t, int) \
                and ((o == ">" and t >= 0) or (o == ">=" and t >= 1)):
            return var, "log", float(c), float(max(t, 1)), False
        if bop is ast.Sub and c > 0 and o in (">", ">="):
            return var, "sub", float(c), float(t), exact
        if bop is ast.Add and c > 0 and o in ("<", "<="):
            return var, "add", float(c), float(t), exact
        return None

    def _while_convergence_fold(self, st: ast.While) -> None:
        """Lower a recognized contraction ``while`` (see
        _while_contraction_info) onto ONE ``F.aggregate`` over
        ``F.sequence(1, K_row)`` with step
        ``when(test(acc), body(acc)).otherwise(acc)`` — the body appears
        ONCE in the expression tree (no unroll blowup), iterations past
        convergence are no-ops, and K_row is the per-row analytic bound
        plus margin, capped at _WHILE_FOLD_CAP.  A row that would need
        more than the cap (possible only for near-1 ratios or tiny
        linear steps on huge values) gets a guarded RuntimeError row
        instead of a silently-wrong value — the one documented
        divergence from CPython, which would keep iterating.  Raises
        CompileError for any other loop."""
        info = self._while_contraction_info(st)
        if info is None:
            raise CompileError("dynamic while condition")
        var, kind, c, t, exact = info
        # round 12: data-dependent break-ifs lower to a FROZEN-FLAG
        # accumulator — break only exits earlier, so the contraction
        # bound stays valid; iterations after the flag set are no-ops
        # (the step condition carries ~brk).  continue is rejected: it
        # can skip the driver update, so admitted iterations would no
        # longer each contract and the bound proof breaks.
        body = list(st.body)
        brk = cont = None
        if any(_contains_break_continue(s) for s in st.body):
            # continues reaching here were position-validated by
            # _while_contraction_info (pure continue-ifs strictly
            # after the driver update — round 12); anything else
            # already bailed the recognizer
            if any(_contains_continue(s) for s in st.body) \
                    and not all(
                        _is_pure_continue_if(s) or not _contains_continue(s)
                        for s in st.body):
                raise CompileError("continue before a while fold's update")
            fid = self._fresh_id()
            brk, cont = f"__brk{fid}", f"__cont{fid}"
            body = [_flag_assign(cont, False)] \
                + _lower_break_continue(body, brk, cont)
            self._locals[brk] = SConst(False)
            self._locals[cont] = SConst(False)
        assigned = _loop_assigned_names(body)
        accs = [n for n in assigned if n in self._locals]

        if set(assigned) != set(accs):
            raise CompileError("while fold assigns a name unbound before it")
        init = {n: self._locals[n] for n in accs}
        if any(s.tag not in ("int", "float", "bool", "str")
               for s in init.values()):
            raise CompileError("while fold accumulator tag")

        def enter(acc_syms, _x):
            cond = self.truthy(self.eval(st.test))
            if brk is not None and brk in acc_syms:
                # a broken row freezes: iterations after the flag
                # set are no-ops, exactly CPython's early exit
                cond = cond & ~F.coalesce(
                    self.to_col(acc_syms[brk]), F.lit(False))
            return cond

        # per-row iteration bound (double space, clamped BEFORE ceil so
        # inf/1e300 never overflows ceil's long)
        x0c = self.to_col(init[var]).cast("double")
        if kind == "log":
            need = x0c > t
            raw = (F.log(x0c) - _math.log(t)) / _math.log(c)
        elif kind == "grow":
            need = x0c < t
            # a non-positive start never reaches the (positive)
            # threshold under x *= c — CPython hangs.  The post-loop
            # condition guard alone is NOT sufficient: a long
            # accumulator can wrap into a positive value >= t and exit
            # "cleanly" (e.g. -5 * 2^61 = 0x6000...0), so the x0 > 0
            # precondition is emitted as its own guard row below.
            raw = F.when(x0c > 0,
                         (F.log(F.lit(float(t))) - F.log(x0c))
                         / _math.log(c)) \
                   .otherwise(F.lit(float(self._WHILE_FOLD_CAP)))
            precond_bad = F.coalesce((x0c <= 0) & need, F.lit(False))
        else:
            need = (x0c > t) if kind == "sub" else (x0c < t)
            span = (x0c - F.lit(t)) if kind == "sub" else (F.lit(t) - x0c)
            if exact:
                step = F.lit(c)  # pure-long arithmetic: bound is exact
            else:
                # float drift: fl(x -/+ c) moves by at least
                # c - ulp(x)/2 per iteration, so divide by that
                # worst-case EFFECTIVE step, with ulp bounded over the
                # whole trajectory by ulp(max(|x0|, |t|)) =
                # 2^(floor(log2(ax)) - 52).  A naive (x0-t)/c bound
                # undercounts whenever c is within a few ulps of the
                # driver (e.g. x0=1e17, c=40: real step rounds to 32,
                # 125 CPython iterations vs ceil=100) and the cap guard
                # then raises spuriously.  If the step can round to
                # zero (c <= ulp/2), CPython itself may never
                # terminate: send the row to the guarded cap.
                ax = F.greatest(F.abs(x0c), F.lit(abs(t)))
                ulp = F.when(ax > 0, F.pow(F.lit(2.0),
                                           F.floor(F.log2(ax)) - 52)) \
                       .otherwise(F.lit(0.0))
                step = F.lit(c) - ulp / 2
            raw = F.when(step > 0, span / step) \
                   .otherwise(F.lit(float(self._WHILE_FOLD_CAP)))
        raw = F.least(raw, F.lit(float(self._WHILE_FOLD_CAP)))
        k = F.ceil(raw) + self._WHILE_FOLD_MARGIN
        k = F.when(need, F.least(k, F.lit(self._WHILE_FOLD_CAP))) \
             .otherwise(F.lit(self._WHILE_FOLD_MARGIN)).cast("int")

        self._fold_loop(body, init, F.sequence(F.lit(1), k), enter,
                        any(s.nullable for s in init.values()))
        # cap guard: condition still true after K iterations -> the
        # compiled bound was insufficient (CPython would keep looping);
        # grow additionally guards its termination PREcondition (see
        # precond_bad above — wrapped longs can fake a clean exit)
        guard_cond = self.truthy(self.eval(st.test))
        if kind == "grow":
            guard_cond = guard_cond | precond_bad
        if brk is not None:
            # a row that exited via break is a CLEAN exit even though
            # the while test still holds (and even if its grow
            # precondition looked hang-shaped — CPython broke first)
            guard_cond = guard_cond & ~F.coalesce(
                self.to_col(self._locals[brk]), F.lit(False))
        self.guard(guard_cond, "RuntimeError")
        if brk is not None:
            self._locals.pop(brk, None)
            self._locals.pop(cont, None)

    def _unroll_with_break(self, st: ast.For, vals) -> list:
        """Unroll with break/continue lowered to boolean flags: break/
        continue become flag assignments, statements after them are
        wrapped in ``if not flag``, and each iteration runs under
        ``if not __brk``.  The existing If/branch-merge machinery then
        computes exactly CPython's control flow."""
        n = self._fresh_id()
        brk, cont = f"__brk{n}", f"__cont{n}"
        lowered = _lower_break_continue(list(st.body), brk, cont)
        stmts = [_flag_assign(brk, False)]
        for v in vals:
            body = [_flag_assign(cont, False),
                    ast.Assign(targets=[st.target], value=_SymExpr(v))] \
                + lowered
            stmts.append(ast.If(test=_not_name(brk), body=body, orelse=[]))
        return stmts

    def _static_iter(self, node) -> list[Sym] | None:
        """Per-iteration Syms when the iterable is statically known, else
        None (only evaluates nodes that cannot emit guards)."""
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) \
                and node.func.id not in self._locals and not node.keywords:
            fname = node.func.id
            if fname == "range":
                cargs = []
                for a in node.args:
                    if not isinstance(a, (ast.Constant, ast.Name,
                                          ast.UnaryOp)):
                        return None
                    s = self.eval(a)
                    if not (isinstance(s, SConst)
                            and isinstance(s.value, int)):
                        return None
                    cargs.append(s.value)
                try:
                    return [SConst(v) for v in range(*cargs)]
                except (TypeError, ValueError):
                    return None
            if fname == "enumerate" and node.args:
                inner = self._static_iter(node.args[0])
                if inner is None:
                    return None
                start = 0
                if len(node.args) > 1:
                    s = self.eval(node.args[1])
                    if not (isinstance(s, SConst)
                            and isinstance(s.value, int)):
                        return None
                    start = s.value
                return [STuple([SConst(i + start), v])
                        for i, v in enumerate(inner)]
            if fname == "zip" and node.args:
                inners = [self._static_iter(a) for a in node.args]
                if any(i is None for i in inners):
                    return None
                return [STuple(list(t)) for t in zip(*inners)]
            if fname == "reversed" and node.args:
                inner = self._static_iter(node.args[0])
                return None if inner is None else inner[::-1]
            return None
        if isinstance(node, (ast.List, ast.Tuple)):
            return [self.eval(e) for e in node.elts]
        if isinstance(node, ast.Call) and isinstance(node.func,
                                                    ast.Attribute) \
                and node.func.attr in ("items", "keys", "values") \
                and not node.args and not node.keywords:
            # dict-view iteration (for k, v in d.items()): statically
            # known for literal-keyed dicts
            try:
                s = self.eval(node)
            except CompileError:
                return None
            if isinstance(s, STuple):
                return list(s.items)
            return None
        if isinstance(node, (ast.Constant, ast.Name, ast.Dict)):
            try:
                s = self.eval(node)
            except CompileError:
                return None
            if isinstance(s, SConst) and isinstance(s.value, (list, tuple)):
                return [SConst(v) for v in s.value]
            if isinstance(s, STuple):
                return list(s.items)
            if isinstance(s, SDict):
                # iterating a dict yields its keys, insertion-ordered
                return [SConst(k) for k in s.items]
        return None

    def _iter_array(self, node):
        """Lower a dynamic iterable to (array Column, [element tags],
        is_struct, nullable).  zip/enumerate/range over columns become
        JVM array constructions."""
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) \
                and node.func.id not in self._locals and not node.keywords:
            fname = node.func.id
            if fname == "zip" and 2 <= len(node.args) <= 3:
                syms = [self.eval(x) for x in node.args]
                if not all(isinstance(s, SCol) and s.tag == "array"
                           for s in syms):
                    raise CompileError("zip over non-arrays")
                a, b = syms[0], syms[1]
                zipped = F.zip_with(
                    a.col, b.col,
                    lambda x, y: F.struct(x.alias("e0"), y.alias("e1")))
                if len(syms) == 3:
                    cc = syms[2]
                    zipped = F.zip_with(
                        zipped, cc.col,
                        lambda p, z: F.struct(p.getField("e0").alias("e0"),
                                              p.getField("e1").alias("e1"),
                                              z.alias("e2")))
                # Python zip TRUNCATES to the shorter input; zip_with pads
                # the shorter side with nulls — slice them off
                n = F.size(a.col)
                for s in syms[1:]:
                    n = F.least(n, F.size(s.col))
                zipped = F.slice(zipped, 1, n)
                return (zipped, [s.elem or "any" for s in syms], True,
                        any(s.nullable for s in syms))
            if fname == "enumerate" and 1 <= len(node.args) <= 2:
                a = self.eval(node.args[0])
                if not (isinstance(a, SCol) and a.tag == "array"):
                    raise CompileError("enumerate over non-array")
                start = 0
                if len(node.args) > 1:
                    s = self.eval(node.args[1])
                    if not (isinstance(s, SConst)
                            and isinstance(s.value, int)):
                        raise CompileError("enumerate start must be "
                                           "a constant int")
                    start = s.value
                arr = F.transform(
                    a.col,
                    lambda x, i: F.struct(
                        (i.cast("long") + start).alias("e0"),
                        x.alias("e1")))
                return arr, ["int", a.elem or "any"], True, a.nullable
            if fname == "range" and 1 <= len(node.args) <= 2:
                args = [self.num(self.eval(x), "range") for x in node.args]
                lo = F.lit(0) if len(args) == 1 else self.to_col(args[0])
                hi = self.to_col(args[-1])
                arr = F.when(hi > lo, F.sequence(lo.cast("long"),
                                                 hi.cast("long") - 1)) \
                    .otherwise(F.array().cast("array<bigint>"))
                return arr, ["int"], False, False
        it = self.eval(node)
        if isinstance(it, SCol) and it.tag == "array":
            return it.col, [it.elem or "any"], False, it.nullable
        raise CompileError(f"loop over {it.tag}")

    @staticmethod
    def _loop_target_syms(target, x: Column, tags, is_struct) -> dict:
        """{name: Sym} binding a loop target to the element ``x``."""
        if is_struct:
            elems = [SCol(x.getField(f"e{i}"), t, False)
                     for i, t in enumerate(tags)]
            if isinstance(target, ast.Name):
                return {target.id: STuple(elems)}
            if isinstance(target, ast.Tuple) \
                    and len(target.elts) == len(elems) \
                    and all(isinstance(e, ast.Name) for e in target.elts):
                return {e.id: s for e, s in zip(target.elts, elems)}
            raise CompileError("loop target shape")
        if isinstance(target, ast.Name):
            return {target.id: SCol(x, tags[0], False)}
        raise CompileError("loop target shape")

    def _rewrite_loop_returns(self, stmts: list, rv: str, rf: str):
        """Rewrite ``return EXPR`` inside a dynamic-loop body as
        ``rv = EXPR; rf = True; break`` — the value and flag become
        ordinary fold accumulators and the break rides the existing
        flag lowering, so the loop stops updating exactly at the
        return point (round 11: the returns-mixed-with-accumulation
        shape).  Bare ``return`` / ``return None`` sites (round 12)
        skip the value assignment — the flag alone carries the exit
        and the caller reads the untouched SConst(None) seed, so the
        fold never needs a None-typed accumulator field; MIXING bare
        and valued sites in one loop falls back (a bare exit would
        have to overwrite the value accumulator with a None arm, the
        variant-widening the fold can't express).  Returns must sit in
        statement position within plain if-chains; a return nested in
        an inner loop/try/with raises CompileError -> exact Arrow
        fallback."""
        out: list = []
        for s in stmts:
            if isinstance(s, ast.Return):
                if s.value is None or (isinstance(s.value, ast.Constant)
                                       and s.value.value is None):
                    out.append(_flag_assign(rf, True))
                    out.append(ast.copy_location(ast.Break(), s))
                    return out
                a = ast.Assign(
                    targets=[ast.Name(id=rv, ctx=ast.Store())],
                    value=s.value)
                ast.copy_location(a, s)
                ast.fix_missing_locations(a)
                out.append(a)
                out.append(_flag_assign(rf, True))
                out.append(ast.copy_location(ast.Break(), s))
                return out  # statically dead code after a return
            if isinstance(s, ast.If):
                if any(isinstance(n, ast.Return) for n in ast.walk(s)):
                    ns = ast.If(
                        test=s.test,
                        body=self._rewrite_loop_returns(s.body, rv, rf),
                        orelse=self._rewrite_loop_returns(s.orelse,
                                                          rv, rf))
                    ast.copy_location(ns, s)
                    ast.fix_missing_locations(ns)
                    out.append(ns)
                else:
                    out.append(s)
                continue
            if any(isinstance(n, ast.Return) for n in ast.walk(s)):
                raise CompileError("return nested in inner construct")
            out.append(s)
        return out

    def _fold_loop(self, body: list, init: dict, seq: Column, enter,
                   null_in: bool) -> Column:
        """Fold a dynamic loop onto ONE ``F.aggregate`` over the array
        ``seq``: the one core of the for fold (_exec_for_fold) and the
        convergence while fold (_while_convergence_fold).  ``init`` maps
        each accumulator to its pre-loop Sym; they travel as struct
        fields f0, f1, ....  ``enter(acc_syms, x)`` runs at the top of
        each iteration with the accumulators bound and returns the
        condition under which the iteration runs (None: always; the
        while fold passes its test, so iterations past convergence are
        no-ops).  Two dry passes over the body fix the struct's tags.
        Guards the body emits are CAPTURED (round 11): their conditions
        reference the fold's lambda variables, so they fold into
        synthetic (already, code) fields updated only on iterations
        that run, and are re-emitted as ordinary guards after the fold.
        Rebinds each accumulator to its field of the result (nullable
        when ``null_in``, too) and returns the result struct."""
        accs = list(init)

        def run(acc_syms, x):
            """Execute one iteration under acc/element bindings; returns
            (condition, {acc: Sym-after}, captured_guards).  A return
            inside aborts (the callers rewrote returns away first)."""
            def iteration():
                cond = enter(acc_syms, x)
                n_returns = len(self._returns)
                if self.exec_block(body, None) \
                        or len(self._returns) != n_returns:
                    raise CompileError("return/raise inside dynamic loop")
                return cond, {n: self._locals[n] for n in accs}
            (cond, res), caught = self._lambda_scope(acc_syms, iteration)
            return cond, res, caught

        # pass 1 (dry): discover post-body tags to fix the struct schema
        dummy = F.lit(0)
        _, out, caught1 = run({n: SCol(dummy, s.tag, s.nullable)
                               for n, s in init.items()}, dummy)
        final = {}
        for n in accs:
            t = _unify_tags(init[n].tag, out[n].tag)
            if t not in ("int", "float", "bool", "str"):
                raise CompileError(f"fold accumulator widens to {t}")
            final[n] = t
        _, out2, caught2 = run({n: SCol(dummy, final[n], init[n].nullable)
                                for n in accs}, dummy)
        for n in accs:
            if _unify_tags(final[n], out2[n].tag) != final[n]:
                raise CompileError("fold accumulator type oscillates")
        guard_codes = [g.code for g in caught2]
        if [g.code for g in caught1] != guard_codes:
            raise CompileError("unstable guard sites in loop body")
        nullable = {n: init[n].nullable or out2[n].nullable for n in accs}

        nacc = len(accs)
        zero_fields = [
            self._as(init[n], final[n], exact=True).alias(f"f{i}")
            for i, n in enumerate(accs)]
        if guard_codes:
            zero_fields += [F.lit(False).alias(f"f{nacc}"),
                            F.lit(0).alias(f"f{nacc + 1}")]
        zero = F.struct(*zero_fields)

        def merge(acc, x):
            cond, res, caught = run(
                {n: SCol(acc.getField(f"f{i}"), final[n], nullable[n])
                 for i, n in enumerate(accs)}, x)
            fields = [
                self._as(res[n], final[n], exact=True).alias(f"f{i}")
                for i, n in enumerate(accs)]
            if guard_codes:
                if [g.code for g in caught] != guard_codes:
                    raise CompileError("unstable guard sites in loop "
                                       "body")
                already = acc.getField(f"f{nacc}")
                gc = acc.getField(f"f{nacc + 1}")
                for g in caught:
                    c = F.coalesce(g.cond, F.lit(False))
                    gc = F.when(~already & c, F.lit(g.code)).otherwise(gc)
                    already = already | c
                fields += [already.alias(f"f{nacc}"),
                           gc.alias(f"f{nacc + 1}")]
            step = F.struct(*fields)
            return step if cond is None \
                else F.when(cond, step).otherwise(acc)

        result = F.aggregate(seq, zero, merge)
        if guard_codes:
            # re-emit the folded raises as ordinary top-level guards:
            # first-raise order inside the loop is preserved by the
            # already-mask (the stored code is the FIRST site to fire
            # across all iterations), and emission HERE keeps the
            # loop's raise ahead of later statements' guards (the while
            # fold's cap guard included) in the dataset when-chain.  No
            # recorded message — handlers reading str(e) over these
            # sites stay on the fallback.
            gf_col = F.coalesce(result.getField(f"f{nacc}"),
                                F.lit(False))
            gc_col = result.getField(f"f{nacc + 1}")
            for code in dict.fromkeys(guard_codes):
                self.guard(gf_col & (gc_col == code),
                           name_for_code(code))
        for i, n in enumerate(accs):
            self._locals[n] = SCol(result.getField(f"f{i}"), final[n],
                                   nullable[n] or null_in)
        return result

    def _exec_for_fold(self, st: ast.For, path: Column | None):
        arr, tags, is_struct, arr_nullable = self._iter_array(st.iter)
        body = list(st.body)
        flag_names: list[str] = []
        ret_names: tuple[str, str] | None = None
        rets = [n for s in body for n in ast.walk(s)
                if isinstance(n, ast.Return)]
        if rets:
            bare = [r for r in rets
                    if r.value is None
                    or (isinstance(r.value, ast.Constant)
                        and r.value.value is None)]
            if bare and len(bare) != len(rets):
                # a bare exit would overwrite the value accumulator
                # with a None arm — not expressible in a scalar fold
                # field (see _rewrite_loop_returns)
                raise CompileError(
                    "mixed bare/valued returns in dynamic loop")
            rid = self._fresh_id()
            rv, rf = f"__rv{rid}", f"__rf{rid}"
            body = self._rewrite_loop_returns(body, rv, rf)
            self._locals[rv] = SConst(None)
            self._locals[rf] = SCol(F.lit(False), "bool", False)
            ret_names = (rv, rf)
        if any(_contains_break_continue(s) for s in body):
            # break/continue lower to boolean flag ACCUMULATORS: the
            # whole iteration runs under `if not __brk`, so post-break
            # iterations still traverse the sequence but do no work
            # (when(brk, acc) no-ops), and `continue` skips the rest of
            # one iteration via the same `if not __cont` wrapping the
            # static unroll uses.
            n = self._fresh_id()
            brk, cont = f"__brk{n}", f"__cont{n}"
            lowered = _lower_break_continue(body, brk, cont)
            body = [ast.If(test=_not_name(brk),
                           body=[_flag_assign(cont, False)] + lowered,
                           orelse=[])]
            self._locals[brk] = SCol(F.lit(False), "bool", False)
            self._locals[cont] = SCol(F.lit(False), "bool", False)
            flag_names = [brk, cont]
        assigned = _loop_assigned_names(body)
        accs = [n for n in assigned if n in self._locals]
        if not accs:
            raise CompileError("dynamic loop with no accumulators")
        init = {n: self._locals[n] for n in accs}
        for s in init.values():
            # "null" only as the pre-loop seed of the synthetic return
            # accumulator (never read unless the flag is set, and the
            # dry pass unifies it to the return expression's tag)
            if s.tag not in ("int", "float", "bool", "str", "null"):
                raise CompileError(f"fold accumulator of tag {s.tag}")

        def enter(_acc_syms, x):
            self._locals.update(
                self._loop_target_syms(st.target, x, tags, is_struct))

        result = self._fold_loop(body, init, arr, enter, arr_nullable)
        tmp = f"__fold_{self._tmp}"
        self._tmp += 1
        self._locals[tmp] = SCol(result, "struct", arr_nullable)
        # Python leaves the loop var bound to the last element; that is
        # not cheaply expressible here, so drop the binding — a later
        # reference becomes CompileError -> Arrow fallback (never wrong
        # results).  Same for per-iteration temps.
        for n in assigned:
            if n not in accs:
                self._locals.pop(n, None)
        for n in _target_names(st.target):
            self._locals.pop(n, None)
        for n in flag_names:
            self._locals.pop(n, None)
        return ret_names

    def _merge_envs(self, cond, t_env, f_env, saved):
        out = {}
        # first-seen order: the order of any layers staged while
        # merging must not depend on the string hash seed
        for k in dict.fromkeys([*t_env, *f_env]):
            tv, fv = t_env.get(k), f_env.get(k)
            if tv is fv:
                out[k] = tv
            elif tv is None or fv is None:
                # defined on one path only: usable only if not referenced later
                out[k] = tv if tv is not None else fv
            else:
                out[k] = self._merge_vals(cond, tv, fv)
        return out

    def _merge_vals(self, cond: Column, a: Sym, b: Sym) -> Sym:
        if isinstance(a, SConst) and isinstance(b, SConst) and a.value == b.value:
            return a
        if isinstance(a, STuple) and isinstance(b, STuple) \
                and len(a.items) == len(b.items):
            return STuple([self._merge_vals(cond, x, y)
                           for x, y in zip(a.items, b.items)])
        if isinstance(a, SDict) and isinstance(b, SDict) \
                and list(a.items) == list(b.items):
            return SDict({k: self._merge_vals(cond, a.items[k], b.items[k])
                          for k in a.items})
        try:
            if isinstance(a, SVariant) or isinstance(b, SVariant):
                raise CompileError("variant arm")
            tag, elem = _unify_arms([a, b])
        except CompileError:
            # str-vs-scalar (or variant-vs-anything) conditional: keep
            # both arms' EXACT types in a tagged variant struct instead
            # of demoting the whole UDF (e.g. "odd" if n % 2 else n*10)
            present = self._variant_present([a, b])
            if present is None:
                raise
            col = F.when(cond, self._to_variant(a, present)) \
                .otherwise(self._to_variant(b, present))
            if self._unroll_depth > 0 and self._hof_depth == 0:
                col = self._stage(col)
            return SVariant(col, present)
        merged = SCol(F.when(cond, self._as(a, tag, elem))
                      .otherwise(self._as(b, tag, elem)), tag,
                      a.nullable or b.nullable, elem)
        if self._unroll_depth > 0 and self._hof_depth == 0:
            merged = self._stage_sym(merged)
        return merged

    _MAX_STAGED = 96

    def _stage(self, c: Column) -> Column:
        """Append ``c`` as the next staged projection layer (``__tN``,
        computed once per row) and return a reference to it.  Every
        layer is staged here.  Past ``_MAX_STAGED`` layers the UDF
        falls back: a plan with hundreds of staged layers stalls
        Catalyst's fixpoint optimizer, and the Arrow fallback is faster
        and exact (observed: nested dynamic-break loops)."""
        if len(self.staged) >= self._MAX_STAGED:
            raise CompileError("too many staged columns")
        name = f"__t{len(self.staged)}"
        self.staged.append((name, c))
        return F.col(name)

    def _stage_sym(self, val: SCol) -> SCol:
        return SCol(self._stage(val.col), val.tag, val.nullable, val.elem)

    def _merge_returns(self) -> Sym:
        arms = self._returns
        # raise-path placeholders never produce a row value: drop them
        # when any live return exists (keeps dict/tuple returns
        # unpacked); a UDF whose every path raises materializes null
        live = [a for a in arms if not isinstance(a[1], SRaised)]
        if live:
            arms = live
        if not arms:
            raise CompileError("no return value")
        if len(arms) == 1:
            return arms[0][1]
        # tuple-shaped: merge element-wise
        if all(isinstance(v, STuple) for _, v in arms):
            n = len(arms[0][1].items)
            if any(len(v.items) != n for _, v in arms):
                raise CompileError("return tuples of different arity")
            return STuple([
                self._merge_returns_scalar([(c, v.items[i]) for c, v in arms])
                for i in range(n)])
        if all(isinstance(v, SDict) for _, v in arms):
            keys = list(arms[0][1].items)
            if any(list(v.items) != keys for _, v in arms):
                raise CompileError("return dicts with different keys")
            return SDict({k: self._merge_returns_scalar(
                [(c, v.items[k]) for c, v in arms]) for k in keys})
        return self._merge_returns_scalar(arms)

    def _merge_returns_scalar(self, arms) -> Sym:
        nullable = any(v.nullable or v.tag == "null" for _, v in arms)
        if any(isinstance(v, SVariant) for _, v in arms):
            return self._merge_returns_variant(arms)
        try:
            tag, elem = _unify_arms([v for _, v in arms])
        except CompileError:
            # str mixed with a scalar family: compile as a tagged
            # variant struct instead of demoting the whole UDF
            return self._merge_returns_variant(arms)
        expr = None
        for cond, val in arms:
            c = self._as(val, tag, elem)
            if cond is None:
                expr = c if expr is None else expr.otherwise(c)
                break
            expr = F.when(cond, c) if expr is None else expr.when(cond, c)
        if expr is None:
            expr = F.lit(None)
        return SCol(expr, tag, nullable, elem)

    @staticmethod
    def _variant_present(syms) -> list[str] | None:
        """Union of type families across the values, sorted by tag
        code; None when any value is outside the variant-able set."""
        present: set[str] = set()
        for v in syms:
            if isinstance(v, SVariant):
                present |= set(v.present)
            elif v.tag in _VARIANT_FIELDS:
                present.add(v.tag)
            elif v.tag != "null":
                return None
        return sorted(present, key=lambda t: _VARIANT_FIELDS[t][2])

    def _to_variant(self, val: Sym, present: list[str]) -> Column:
        """Sym -> tagged variant struct with exactly the ``present``
        value fields (widening an existing SVariant fills the new
        fields with typed nulls)."""
        if isinstance(val, SVariant):
            fields = [val.col.getField("__vt").alias("__vt")]
            for t in present:
                name, styp, _ = _VARIANT_FIELDS[t]
                c = (val.col.getField(name) if t in val.present
                     else F.lit(None).cast(styp))
                fields.append(c.alias(name))
            return F.struct(*fields)
        code = 0 if val.tag == "null" else _VARIANT_FIELDS[val.tag][2]
        fields = [F.lit(code).cast("int").alias("__vt")]
        for t in present:
            name, styp, _ = _VARIANT_FIELDS[t]
            c = (self.to_col(val).cast(styp) if val.tag == t
                 else F.lit(None).cast(styp))
            fields.append(c.alias(name))
        return F.struct(*fields)

    def _merge_returns_variant(self, arms) -> "SVariant":
        """Merge mixed-type return arms into one tagged struct (see
        :class:`SVariant`).  Per-arm types stay EXACT — an int arm
        decodes to int, a float arm to float — instead of the numeric
        widening the single-typed merge applies."""
        present = self._variant_present([v for _, v in arms])
        if present is None:
            raise CompileError("mixed return beyond scalar families")
        expr = None
        for cond, val in arms:
            c = self._to_variant(val, present)
            if cond is None:
                expr = c if expr is None else expr.otherwise(c)
                break
            expr = F.when(cond, c) if expr is None else expr.when(cond, c)
        return SVariant(expr, present)

    def _exc_name(self, exc_node) -> str:
        if exc_node is None:
            return "Exception"
        if isinstance(exc_node, ast.Call):
            exc_node = exc_node.func
        if isinstance(exc_node, ast.Name):
            return exc_node.id
        return "Exception"

    # ================================================================ expressions
    def eval(self, node) -> Sym:
        meth = getattr(self, f"_ev_{type(node).__name__}", None)
        if meth is None:
            raise CompileError(f"unsupported syntax {type(node).__name__}")
        return meth(node)

    def _ev__SymExpr(self, node):
        return node.sym

    def _ev_Constant(self, node):
        if isinstance(node.value, (int, float, str, bool)) or node.value is None:
            return SConst(node.value)
        raise CompileError(f"constant {node.value!r}")

    def _ev_Name(self, node):
        if node.id in self._locals:
            return self._locals[node.id]
        if node.id in self.env:
            v = self.env[node.id]
            if v in (_math, _re_mod, _string_mod, _random_mod,
                     _json_mod):
                return SModule(v)
            if isinstance(v, (int, float, str, bool, tuple, list, dict)) \
                    or v is None:
                return SConst(v)
            raise CompileError(f"closure variable {node.id} of type {type(v)}")
        raise CompileError(f"unknown name {node.id}")

    def _ev_Tuple(self, node):
        return STuple([self.eval(e) for e in node.elts])

    def _ev_List(self, node):
        """List literals are ARRAYS (collect as Python lists), not tuple
        structs — `[x, y]` must round-trip as [x, y].  Elements need a
        common Spark type; heterogeneous lists fall back to CPython."""
        items = [self.eval(e) for e in node.elts]
        if not items:
            raise CompileError("empty list literal (element type unknown)")
        if all(isinstance(i, SConst) for i in items):
            return SConst([i.value for i in items])
        return self._array_from(STuple(items), "list")

    def _ev_Dict(self, node):
        pairs = []
        for k, v in zip(node.keys, node.values):
            if k is None:
                raise CompileError("dict unpacking")
            n_guards = len(self.guards)
            ks = self.eval(k)
            if len(self.guards) != n_guards \
                    or not (isinstance(ks, SConst)
                            and isinstance(ks.value, (str, int, bool))):
                raise CompileError("dict literal needs constant keys")
            pairs.append((ks.value, self.eval(v)))
        if all(isinstance(k, str) for k, _ in pairs):
            return SDict(dict(pairs))
        # non-str literal keys: usable as a constant lookup table
        # (dynamic subscript -> when()-chain) when values are constants
        if all(isinstance(v, SConst) for _, v in pairs):
            return SConst({k: v.value for k, v in pairs})
        raise CompileError("non-str dict keys need constant values")

    def _ev_ListComp(self, node):
        """[expr for v in arr (if cond)*]+ -> F.filter + F.transform,
        nested generators flattened level by level
        (``[f(a,b) for a in xs for b in g(a)]`` becomes
        ``flatten(transform(xs, a -> transform(g(a), b -> f(a,b))))``
        — inner iterables may reference outer variables, exactly
        CPython's re-evaluation-per-outer-element semantics).

        A guard predicate can't reference HOF lambda variables at row
        scope, so a condition or inner iterable that needs exception
        guards falls back, and so does a guarded body under several
        generators.  The guarded body of a single-generator
        comprehension (``[10 // int(t) for t in toks]``) is lifted to
        row scope instead (_lift_comp_guards)."""
        gens = node.generators
        for gen in gens:
            if gen.is_async or not isinstance(gen.target, ast.Name):
                raise CompileError("comprehension target")
        out_tag = ["str"]

        def level(gi, it):
            gen, elem = gens[gi], it.elem or "str"

            def scope(x, fn):
                return self._lambda_scope(
                    {gen.target.id: SCol(x, elem, False)}, fn)

            def make_cond(c):
                # NOT `lambda x, c=cond:` — pyspark counts defaulted
                # params, sees arity 2, and passes the array INDEX as c
                def fn(x):
                    out, caught = scope(
                        x, lambda: self.truthy(self.eval(c)))
                    if caught:
                        raise CompileError(
                            "guarded comprehension condition")
                    return out
                return fn

            def inner(x):
                out, caught = scope(x, lambda: level(
                    gi + 1,
                    self._comp_iter_array(self.eval(gens[gi + 1].iter))))
                if caught:
                    raise CompileError("guarded inner comprehension iterable")
                return out

            body_guards = []

            def body(x):
                res, caught = scope(x, lambda: self.eval(node.elt))
                if caught and len(gens) > 1:
                    raise CompileError("guarded comprehension body")
                body_guards[:] = caught
                out_tag[0] = res.tag
                return self.to_col(res)

            arr = it.col
            for cond in gen.ifs:
                arr = F.filter(arr, make_cond(cond))
            if gi < len(gens) - 1:
                return F.flatten(F.transform(arr, inner))
            out = F.transform(arr, body)
            if not body_guards:
                return out
            arr = self._lift_comp_guards(arr, scope, node.elt, body_guards)
            return F.transform(arr, body)

        it = self._comp_iter_array(self.eval(gens[0].iter))
        out = level(0, it)
        return SCol(out, "array", it.nullable, elem=out_tag[0])

    def _comp_iter_array(self, it):
        """Normalize a comprehension iterable Sym to an array SCol."""
        if isinstance(it, SDict):
            # iterating a dict yields its (constant) keys
            it = SConst(list(it.items.keys()))
        if isinstance(it, SConst) and isinstance(it.value,
                                                 (list, tuple)):
            it = SCol(F.array(*[F.lit(v) for v in it.value]), "array",
                      False,
                      elem=_pytag(it.value[0]) if it.value else "str")
        if not (isinstance(it, SCol) and it.tag == "array"):
            raise CompileError(f"comprehension over {it.tag}")
        return it

    def _lift_comp_guards(self, arr: Column, scope, elt,
                          caught: list[_Guard]) -> Column:
        """Lift the guards a comprehension body emits (``caught``, as
        captured over the lambda variable) to row scope: the row raises
        iff some filter-surviving element's body raises, at the FIRST
        such element in array order with site order within the element
        preserved — exactly CPython's evaluation order.  ``scope(x,
        fn)`` evaluates in the comprehension's lambda scope with the
        loop variable bound to ``x``.  Returns the filtered array the
        value column must read (staged at row scope, since the guards
        read it too); the value evaluates the body unguarded, read only
        on rows where no guard fired."""
        if self._hof_depth == 0:
            arr = self._stage(arr)
        codes = [g.code for g in caught]

        def any_fn(x, i):
            a = F.lit(False)
            for g in scope(x, lambda: self.eval(elt))[1]:
                a = a | F.coalesce(g.cond, F.lit(False))
            return F.struct(i.alias("i"), a.alias("f"))

        fb = F.element_at(
            F.filter(F.transform(arr, any_fn), lambda s: s["f"]), 1)
        if self._hof_depth == 0:
            fb = self._stage(fb)
        has_bad = fb.isNotNull()
        xbad = F.element_at(arr, (fb["i"] + 1).cast("int"))
        bad = scope(xbad, lambda: self.eval(elt))[1]
        if [g.code for g in bad] != codes:
            raise CompileError("unstable guard sites in comprehension")
        prior = F.lit(False)
        for g in bad:
            cc = F.coalesce(g.cond, F.lit(False))
            self.guard(has_bad & cc & ~prior, name_for_code(g.code))
            prior = prior | cc
        return arr

    def _ev_GeneratorExp(self, node):
        # sum(f(v) for v in arr) — same translation as a list comp
        return self._ev_ListComp(node)

    def _ev_SetComp(self, node):
        # {f(v) for v in arr}: distinct of the list-comp lowering
        return self._set_from(self._ev_ListComp(node))

    def _ev_Attribute(self, node):
        # str.maketrans(...) — a classmethod on the TYPE, not a value:
        # evaluate constant-arg calls at compile time (feeds translate)
        if isinstance(node.value, ast.Name) and node.value.id == "str" \
                and node.value.id not in self._locals \
                and node.attr == "maketrans":
            return _BoundModuleFn(str, "maketrans")
        base = self.eval(node.value)
        if isinstance(base, SModule):
            if base.mod is _math and hasattr(_math, node.attr):
                v = getattr(_math, node.attr)
                if isinstance(v, float):
                    return SConst(v)
            if base.mod is _re_mod and hasattr(_re_mod, node.attr):
                v = getattr(_re_mod, node.attr)
                if isinstance(v, int):  # flag constants (IntFlag)
                    return SConst(int(v))
            return _BoundModuleFn(base.mod, node.attr)
        if isinstance(base, SDict) and node.attr in base.items:
            return base.items[node.attr]
        if isinstance(base, SCol) and base.tag in ("timestamp", "date"):
            base = self._deref(base, "AttributeError")  # None.year
            fld = {"year": F.year, "month": F.month, "day": F.day,
                   "hour": F.hour, "minute": F.minute, "second": F.second}
            if node.attr in fld:
                if base.tag == "date" and node.attr in ("hour", "minute",
                                                        "second"):
                    raise CompileError(f"date has no {node.attr}")
                return SCol(fld[node.attr](base.col).cast("long"), "int",
                            base.nullable)
            if node.attr == "microsecond" and base.tag == "timestamp":
                return SCol(F.pmod(
                    F.unix_micros(base.col.cast("timestamp")),
                    F.lit(1_000_000)).cast("long"), "int", base.nullable)
        return _BoundMethod(base, node.attr)

    def _dict_dynamic_lookup(self, items, idx: Sym,
                             default: Sym | None = None) -> Sym:
        """d[key] / d.get(key, default) with a DYNAMIC key over a dict of
        constant keys: a when(key == k_i, v_i) chain; misses either raise
        KeyError (subscript; CPython semantics — the reference compiles
        typed dicts the same way, SymbolTable.cc dict table) or yield
        ``default`` (.get).  Keys must be one family (all int-like or
        all str) so the equality comparisons type."""
        if not items:
            if default is not None:
                return default
            self.guard(F.lit(True), "KeyError", args=[idx])
            return SConst(None)
        keys = [k for k, _ in items]
        if all(isinstance(k, (int, bool)) for k in keys):
            fam = "int"
        elif all(isinstance(k, str) for k in keys):
            fam = "str"
        else:
            raise CompileError("dynamic dict lookup needs int or str keys")
        if isinstance(idx, SConst):
            idx = SCol(F.lit(idx.value), _pytag(idx.value), False)
        if not isinstance(idx, SCol):
            raise CompileError("dict key type")
        if fam == "int" and idx.tag not in ("int", "bool"):
            raise CompileError(f"{idx.tag} key into int-keyed dict")
        if fam == "str" and idx.tag != "str":
            raise CompileError(f"{idx.tag} key into str-keyed dict")
        vals = [v for _, v in items]
        if default is not None:
            if not isinstance(default, (SConst, SCol)):
                raise CompileError("dict .get default shape")
            vals = vals + [default]
        if not all(isinstance(v, (SConst, SCol)) for v in vals):
            raise CompileError("dict value shape for dynamic lookup")
        tag = _unify_arms(vals)[0]
        nullable = any(v.nullable or v.tag == "null" for v in vals)
        if tag not in ("int", "float", "bool", "str"):
            raise CompileError(f"dynamic dict lookup of {tag} values")

        kcol = idx.col
        expr = None
        for k, v in items:
            arm = kcol == F.lit(int(k) if isinstance(k, bool) else k)
            c = self._as(v, tag)
            expr = F.when(arm, c) if expr is None else expr.when(arm, c)
        if default is not None:
            return SCol(expr.otherwise(self._as(default, tag)), tag,
                        nullable)
        hit = F.coalesce(
            kcol.isin([int(k) if isinstance(k, bool) else k
                       for k in keys]), F.lit(False))
        try:
            kmsg = self._repr_col(idx)  # str(KeyError(k)) == repr(k)
        except CompileError:
            kmsg = None
        self.guard(~hit, "KeyError", msg=kmsg, args=[idx])
        return SCol(expr, tag, nullable)

    def _ev_Subscript(self, node):
        base = self.eval(node.value)
        if isinstance(node.slice, ast.Slice):
            return self._slice(base, node.slice)
        idx = self.eval(node.slice)
        return self._subscript(base, idx)

    def _subscript(self, base: Sym, idx: Sym) -> Sym:
        fields = self.schema.fields
        if isinstance(base, SJson):
            return self._json_subscript(base, idx)
        if isinstance(base, SRow):
            if not isinstance(idx, SConst):
                raise CompileError("row subscript must be constant")
            if isinstance(idx.value, str):
                names = [f.name for f in fields]
                if idx.value not in names:
                    raise CompileError(f"no column {idx.value!r}")
                return self._field_sym(fields[names.index(idx.value)])
            i = idx.value
            if not isinstance(i, int):
                raise CompileError("row index type")
            if i < 0:
                i += len(fields)
            if not 0 <= i < len(fields):
                raise CompileError("row index out of range")
            return self._field_sym(fields[i])
        if isinstance(base, STuple):
            if isinstance(idx, SConst) and isinstance(idx.value, int):
                try:
                    return base.items[idx.value]
                except IndexError:
                    self.guard(F.lit(True), "IndexError",
                               msg="tuple index out of range")
                    return SConst(None)
            raise CompileError("tuple index must be int constant")
        if isinstance(base, SArgsTuple):
            # mixed-arity e.args: resolve the literal index per raise
            # SITE (negative indices pick each site's own position),
            # then merge under the eff conditions.  An index out of
            # range for ANY site would be a per-row IndexError inside
            # the handler — exact fallback, not a guard.
            if not (isinstance(idx, SConst) and isinstance(idx.value, int)):
                raise CompileError("e.args index must be int constant")
            try:
                return self._merge_sites(
                    [(c, a[idx.value]) for c, a in base.per])
            except IndexError:
                raise CompileError(
                    "e.args index out of range for a raise site")
        if isinstance(base, SDict):
            if isinstance(idx, SConst) and isinstance(idx.value, str):
                if idx.value in base.items:
                    return base.items[idx.value]
                # str(KeyError(k)) is repr(k); args is (k,)
                self.guard(F.lit(True), "KeyError", msg=repr(idx.value),
                           args=[SConst(idx.value)])
                return SConst(None)
            return self._dict_dynamic_lookup(
                list(base.items.items()), idx)
        if isinstance(base, SConst):
            if isinstance(idx, SConst):
                try:
                    return SConst(base.value[idx.value])
                except Exception as e:
                    args = [SConst(a) for a in e.args] \
                        if isinstance(e, KeyError) and all(
                            isinstance(a, (int, float, bool, str,
                                           type(None)))
                            for a in e.args) else None
                    self.guard(F.lit(True), type(e).__name__, msg=str(e),
                               args=args)
                    return SConst(None)
            if isinstance(base.value, dict):
                # constant lookup-table subscripted by a column — the
                # classic mapping idiom ({1: 'US', 2: 'EU'}[x['region']])
                return self._dict_dynamic_lookup(
                    [(k, SConst(v)) for k, v in base.value.items()], idx)
            base = SCol(F.lit(base.value), base.tag, False)
        if isinstance(base, SCol):
            base = self._deref(base)  # None[i] is a TypeError
            if base.tag == "str":
                i = self.to_col(self.num(idx, "string index"))
                L = F.length(base.col)
                pos = F.when(i >= 0, i + 1).otherwise(L + i + 1)
                self.guard((i >= L) | (i < -L), "IndexError",
                           msg="string index out of range")
                return SCol(F.substring(base.col, pos, 1), "str", base.nullable)
            if base.tag == "array":
                i = self.to_col(self.num(idx, "list index"))
                n = F.size(base.col)
                self.guard((i >= n) | (i < -n), "IndexError",
                           msg="list index out of range")
                pos = F.when(i >= 0, i + 1).otherwise(n + i + 1)
                return SCol(F.element_at(base.col, pos.cast("int")),
                            base.elem or "any", True)
            if base.tag == "map":
                k = self.to_col(idx)
                try:
                    kmsg = self._repr_col(idx)  # str(KeyError(k)) == repr(k)
                except CompileError:
                    kmsg = None
                self.guard(~F.map_contains_key(base.col, k), "KeyError",
                           msg=kmsg, args=[idx])
                return SCol(F.element_at(base.col, k), "any", True)
            if base.tag == "struct":
                if isinstance(idx, SConst) and isinstance(idx.value, str):
                    return SCol(base.col.getField(idx.value), "any", True)
        raise CompileError(f"subscript on {base.tag}")

    def _slice(self, base: Sym, sl: ast.Slice) -> Sym:
        if isinstance(base, SConst):
            base = SCol(F.lit(base.value), base.tag, False)
        if isinstance(base, STuple):
            lo = sl.lower.value if isinstance(sl.lower, ast.Constant) else None
            hi = sl.upper.value if isinstance(sl.upper, ast.Constant) else None
            if sl.step is None:
                return STuple(base.items[lo:hi])
            raise CompileError("tuple slice step")
        if not isinstance(base, SCol) or base.tag not in ("str", "array"):
            raise CompileError(f"slice on {base.tag}")
        base = self._deref(base)  # None[a:b] is a TypeError
        # int steps compile, both signs, constant or DYNAMIC.  k > 1
        # keeps every k-th element of the contiguous [lo:hi] segment;
        # k < 0 maps to a positive-step slice of reverse(s): index
        # p <-> n-1-p flips the descending CPython index walk into an
        # ascending one.  A dynamic step composes BOTH sign branches
        # under when(k < 0, ...) — the sign cannot be resolved at
        # compile time.
        step_v = None
        if sl.step is not None:
            step = self.eval(sl.step)
            if isinstance(step, SConst):
                if not (isinstance(step.value, int)
                        and not isinstance(step.value, bool)):
                    raise CompileError("slice step must be int")
                step_v = step.value
                if step_v == 0:
                    self.guard(F.lit(True), "ValueError")
                    return SConst(None)
                if step_v == -1 and sl.lower is None and sl.upper is None:
                    return SCol(F.reverse(base.col), base.tag,
                                base.nullable)
            elif isinstance(step, SCol) and step.tag in ("int", "bool"):
                return self._slice_dynamic_step(base, sl, step)
            else:
                raise CompileError("slice step must be int")
        L = F.length(base.col) if base.tag == "str" else F.size(base.col)

        def seg_of(col, start0, length):
            if base.tag == "str":
                return F.substring(col, (start0 + 1).cast("int"),
                                   length.cast("int"))
            return F.slice(col, (start0 + 1).cast("int"),
                           length.cast("int"))

        def stepped(seg, k):
            if k == 1:
                return SCol(seg, base.tag, base.nullable)
            if base.tag == "str":
                # each match eats up to k chars, keeps the first; (?s)
                # so newlines count like any char (CPython indexing)
                return SCol(
                    F.regexp_replace(seg, f"(?s)(.).{{0,{k - 1}}}", "$1"),
                    "str", base.nullable)
            return SCol(F.filter(seg, lambda x, i: i % k == 0),
                        "array", base.nullable)

        if step_v is not None and step_v < 0:
            k = -step_v
            # CPython negative-step normalization: defaults lo=n-1,
            # hi=-1 (exclusive sentinel); negatives wrap by +n then
            # clamp to [-1, n-1]
            def norm_neg(node, default_col):
                if node is None:
                    return default_col
                v = self.to_col(self.num(self.eval(node), "slice bound"))
                v = F.when(v < 0, L + v).otherwise(v)
                return F.when(v < 0, F.lit(-1)).otherwise(
                    F.least(v, L - 1))
            lo_p = norm_neg(sl.lower, L - 1)
            hi_p = norm_neg(sl.upper, F.lit(-1))
            start = L - 1 - lo_p  # position of lo in reverse(s)
            length = F.greatest((L - 1 - hi_p) - start, F.lit(0))
            return stepped(seg_of(F.reverse(base.col), start, length), k)

        def norm(node, default):
            if node is None:
                return default
            v = self.to_col(self.num(self.eval(node), "slice bound"))
            return F.greatest(F.least(F.when(v < 0, L + v).otherwise(v), L),
                              F.lit(0))
        lo = norm(sl.lower, F.lit(0))
        hi = norm(sl.upper, L)
        length = F.greatest(hi - lo, F.lit(0))
        return stepped(seg_of(base.col, lo, length),
                       step_v if step_v is not None else 1)

    def _slice_dynamic_step(self, base: SCol, sl: ast.Slice,
                            step: SCol) -> Sym:
        """Slice with a DATA-DEPENDENT step: evaluate the bounds once,
        build the positive-step and negative-step segment expressions,
        and select per row with when(k < 0).  Stepping uses an
        index-filter HOF (chars for strings), so any |k| >= 1 works
        without a compile-time constant."""
        k = self.to_col(step)
        if step.nullable:
            self.guard(k.isNull(), "TypeError")
        self.guard(k.isNotNull() & (k == 0), "ValueError")
        L = F.length(base.col) if base.tag == "str" else F.size(base.col)

        def seg_of(col, start0, length):
            if base.tag == "str":
                return F.substring(col, (start0 + 1).cast("int"),
                                   length.cast("int"))
            return F.slice(col, (start0 + 1).cast("int"),
                           length.cast("int"))

        def rawb(node):
            if node is None:
                return None
            return self.to_col(self.num(self.eval(node), "slice bound"))

        lo_raw, hi_raw = rawb(sl.lower), rawb(sl.upper)
        # positive branch (CPython clamp to [0, n])
        def normp(v, default):
            if v is None:
                return default
            return F.greatest(
                F.least(F.when(v < 0, L + v).otherwise(v), L), F.lit(0))
        lo = normp(lo_raw, F.lit(0))
        hi = normp(hi_raw, L)
        pos_seg = seg_of(base.col, lo, F.greatest(hi - lo, F.lit(0)))
        # negative branch (defaults lo=n-1, hi=-1 exclusive sentinel)
        def normn(v, default):
            if v is None:
                return default
            v2 = F.when(v < 0, L + v).otherwise(v)
            return F.when(v2 < 0, F.lit(-1)).otherwise(
                F.least(v2, L - 1))
        lo_p = normn(lo_raw, L - 1)
        hi_p = normn(hi_raw, F.lit(-1))
        nstart = L - 1 - lo_p
        nlen = F.greatest((L - 1 - hi_p) - nstart, F.lit(0))
        neg_seg = seg_of(F.reverse(base.col), nstart, nlen)
        ka = F.abs(k)

        def stepped(seg):
            if base.tag == "str":
                return F.array_join(
                    F.filter(F.split(seg, ""),
                             lambda x, i: i % ka == 0), "")
            return F.filter(seg, lambda x, i: i % ka == 0)

        return SCol(F.when(k < 0, stepped(neg_seg))
                    .otherwise(stepped(pos_seg)),
                    base.tag, base.nullable)

    # -- operators -------------------------------------------------------
    def _ev_BinOp(self, node):
        return self._binop(node.op, self.eval(node.left), self.eval(node.right))

    def _binop(self, op, l: Sym, r: Sym) -> Sym:
        import operator as _op
        py = {ast.Add: _op.add, ast.Sub: _op.sub, ast.Mult: _op.mul,
              ast.Div: _op.truediv, ast.FloorDiv: _op.floordiv,
              ast.Mod: _op.mod, ast.Pow: _op.pow,
              ast.BitAnd: _op.and_, ast.BitOr: _op.or_, ast.BitXor: _op.xor,
              ast.LShift: _op.lshift, ast.RShift: _op.rshift}
        if isinstance(l, SConst) and isinstance(r, SConst) \
                and l.value is not None and r.value is not None:
            try:
                return SConst(py[type(op)](l.value, r.value))
            except Exception as e:
                self.guard(F.lit(True), type(e).__name__, msg=str(e))
                return SConst(None)
        # string/array concatenation & repetition
        if isinstance(op, ast.Add) and ("str" in (l.tag, r.tag)):
            if l.tag != r.tag:
                raise CompileError("str + non-str")
            self._guard_nulls(l, r)
            return SCol(F.concat(self.to_col(l), self.to_col(r)), "str",
                        False)
        if isinstance(op, ast.Add) and l.tag == "array" and r.tag == "array":
            return SCol(F.concat(self.to_col(l), self.to_col(r)), "array", True)
        if isinstance(op, ast.Mod) and l.tag == "str":
            return self._percent_format(l, r)
        if "set" in (getattr(l, "tag", None), getattr(r, "tag", None)) \
                and type(op) in (ast.BitAnd, ast.BitOr, ast.BitXor,
                                 ast.Sub):
            return self._set_binop(
                {ast.BitAnd: "intersection", ast.BitOr: "union",
                 ast.BitXor: "symmetric_difference",
                 ast.Sub: "difference"}[type(op)], l, r)
        if isinstance(op, ast.Mult) and "str" in (l.tag, r.tag):
            s, n = (l, r) if l.tag == "str" else (r, l)
            n = self.num(n, "str repeat")
            self._guard_nulls(s)
            return SCol(F.repeat(self.to_col(s),
                                 self.to_col(n).cast("int")), "str", False)
        ln, rn = self.num(l), self.num(r)
        lc, rc = self.to_col(ln), self.to_col(rn)
        both_int = ln.tag in ("int", "bool") and rn.tag in ("int", "bool")
        # a constant nonzero divisor can never raise — emitting the dead
        # guard would also needlessly abort fold-loop compilation
        div_safe = isinstance(rn, SConst) and rn.value not in (0, 0.0)

        def div_guard(int_msg, float_msg):
            # exact CPython ZeroDivisionError messages, picked by the
            # operand types like intobject/floatobject.c do; inside
            # divmod() the float wording is "float divmod()"
            if getattr(self, "_divmod_depth", 0):
                float_msg = "float divmod()"
            if not div_safe:
                self.guard(rc == 0, "ZeroDivisionError",
                           msg=int_msg if both_int else float_msg)
        if isinstance(op, ast.Add):
            return SCol(lc + rc, "int" if both_int else "float")
        if isinstance(op, ast.Sub):
            return SCol(lc - rc, "int" if both_int else "float")
        if isinstance(op, ast.Mult):
            return SCol(lc * rc, "int" if both_int else "float")
        if isinstance(op, ast.Div):
            div_guard("division by zero", "float division by zero")
            return SCol(lc / rc, "float")
        if isinstance(op, ast.FloorDiv):
            div_guard("integer division or modulo by zero",
                      "float floor division by zero")
            if both_int:
                # ``div`` truncates exactly (floor(a / b) goes through
                # double): step down on an inexact mixed-sign quotient
                q = F.call_function("div", lc, rc)
                down = (lc % rc != 0) & ((lc < 0) != (rc < 0))
                return SCol(F.when(down, q - 1).otherwise(q), "int")
            # CPython float_floor_div (Objects/floatobject.c float_divmod):
            # fmod-based with sign correction and a half-way adjustment —
            # plain floor(a/b) is off by one whenever a/b rounds across
            # an integer boundary (fuzz: -1 // 1e-7)
            a, b = lc.cast("double"), rc.cast("double")
            m0 = a % b  # Spark % on doubles IS C fmod
            adj = (m0 != 0.0) & ((b < 0) != (m0 < 0))
            div = F.when(adj, (a - m0) / b - 1.0).otherwise((a - m0) / b)
            t = div % 1.0
            fd0 = F.when(t < 0, div - t - 1.0).otherwise(div - t)
            fd = F.when(div - fd0 > 0.5, fd0 + 1.0).otherwise(fd0)
            res = F.when(div == 0.0, (a / b) * 0.0).otherwise(fd)
            return SCol(res, "float")
        if isinstance(op, ast.Mod):
            div_guard("integer division or modulo by zero",
                      "float modulo")
            if both_int:
                # sign-of-divisor semantics; exact in integer arithmetic
                return SCol(((lc % rc) + rc) % rc, "int")
            # floats: the ((a%b)+b)%b trick is catastrophically lossy
            # (fmod(2e-7,2)+2 loses the low bits; fuzz caught 2e-7 ->
            # 2.0000000011e-7).  CPython adds the divisor ONLY when the
            # signs differ, once.
            a, b = lc.cast("double"), rc.cast("double")
            m0 = a % b
            adj = (m0 != 0.0) & ((b < 0) != (m0 < 0))
            zero = F.when(b < 0, F.lit(-0.0)).otherwise(F.lit(0.0))
            res = F.when(m0 == 0.0, zero) \
                   .otherwise(F.when(adj, m0 + b).otherwise(m0))
            return SCol(res, "float")
        if isinstance(op, ast.Pow):
            if both_int and isinstance(r, SConst) and 0 <= r.value <= 63:
                # exact 64-bit integer power via a multiplication chain —
                # F.pow computes in double and rounds above 2^53
                # (7**19 came back off by one) and its long cast CLAMPS
                # at Long.MAX instead of wrapping.  Results beyond 2^63
                # wrap like any other i64 arithmetic here (CPython goes
                # bignum — out of the engine's I64 model, same as the
                # reference).
                n = r.value
                if n == 0:
                    return SConst(1)
                res = lc.cast("long")
                for _ in range(n - 1):
                    res = res * lc.cast("long")
                return SCol(res, "int")
            res = F.pow(lc, rc)
            if both_int and isinstance(r, SConst) and r.value >= 0:
                return SCol(res.cast("long"), "int")
            return SCol(res, "float")
        if both_int and type(op) in (ast.BitAnd, ast.BitOr, ast.BitXor,
                                     ast.LShift, ast.RShift):
            if type(op) in (ast.LShift, ast.RShift):
                # shift amount as column: arithmetic construction (matches
                # CPython's arbitrary-width semantics for in-range longs)
                p2 = F.pow(F.lit(2.0), rc).cast("long")
                expr = (lc * p2) if isinstance(op, ast.LShift) \
                    else F.floor(lc / p2).cast("long")
            else:
                expr = {ast.BitAnd: lc.bitwiseAND(rc),
                        ast.BitOr: lc.bitwiseOR(rc),
                        ast.BitXor: lc.bitwiseXOR(rc)}[type(op)]
            return SCol(expr, "int")
        raise CompileError(f"operator {type(op).__name__}")

    def _percent_format(self, l: Sym, r: Sym) -> Sym:
        """Old-style %-formatting -> F.format_string.  Only constant
        format strings with an audited specifier subset where
        java.util.Formatter output is identical to CPython's."""
        if not isinstance(l, SConst):
            raise CompileError("dynamic %-format string")
        fmt = l.value
        spec = _re_mod.compile(
            r"%(?:%|[-+0 #]*\d*(?:\.\d+)?[sdifxXoeEgGrc])")
        specs = [m for m in spec.findall(fmt) if m != "%%"]
        # every % must belong to a recognized specifier
        if spec.sub("", fmt).count("%"):
            raise CompileError(f"unsupported %-format {fmt!r}")
        args = list(r.items) if isinstance(r, STuple) else [r]
        if len(specs) != len(args):
            self.guard(F.lit(True), "TypeError")
            return SConst(None)
        parts = spec.split(fmt)
        matches = spec.findall(fmt)

        def spec_of(flags, width, prc):
            # printf flags as a format spec: '-' left-aligns, '0'
            # zero-pads through the sign ('%05d' -> '05d'), '+'/' '/'#'
            # carry over
            s = ("+" if "+" in flags else " " if " " in flags else "") \
                + ("#" if "#" in flags else "")
            if "-" in flags and width:
                s = "<" + s + width
            elif "0" in flags and width:
                s += "0" + width
            else:
                s += width
            return s if prc is None else s + "." + prc
        out = ""
        cols = []
        ai = 0
        for j, part in enumerate(parts):
            out += part
            if j < len(matches):
                m = matches[j]
                if m == "%%":
                    out += "%%"
                    continue
                a = args[ai]
                ai += 1
                if m.endswith(("x", "X", "o")):
                    # CPython renders negatives as -<digits>, java %x
                    # as two's complement — route through the spec
                    # machinery ('-'/'0'/'#' flags map onto align/fill)
                    pm = _re_mod.match(r"%([-+0 #]*)(\d*)$", m[:-1])
                    if pm is None:
                        raise CompileError(
                            f"unsupported %-format {m!r}")  # precision
                    flags, width = pm.groups()
                    # guard None once, here: _format_spec then sees a
                    # value that is never None (the same below)
                    a = self.num(self._deref(a), "%-format")
                    cols.append(self._format_spec(
                        spec_of(flags, width, None) + m[-1], a))
                    out += "%s"
                elif m.endswith(("f", "e", "E", "g", "G")):
                    # route through the spec machinery: CPython-exact
                    # rounding (HALF_EVEN on the binary value) and
                    # 'inf'/'nan' (java prints 'Infinity'/'NaN')
                    pm = _re_mod.match(r"%([-+0 #]*)(\d*)(?:\.(\d+))?$",
                                       m[:-1])
                    flags, width, prc = pm.groups()
                    a = self.num(self._deref(a), "%-format")
                    cols.append(self._format_spec(
                        spec_of(flags, width, prc) + m[-1], a))
                    out += "%s"
                elif "#" in m:
                    raise CompileError(f"unsupported %-format {m!r}")
                elif m.endswith(("d", "i")):
                    # flags/width/precision must NOT reach java's
                    # Formatter verbatim: it THROWS on shapes CPython
                    # accepts ('%-05d', '%+0d', '%.3d' are all legal
                    # python; java rejects '-'+'0', 0-without-width,
                    # and any precision with %d)
                    pm = _re_mod.match(r"%([-+0 #]*)(\d*)(?:\.(\d+))?$",
                                       m[:-1])
                    flags, width, prc = pm.groups()
                    a = self.num(self._deref(a), "%-format")
                    c = self.to_col(a).cast("long")
                    if prc is not None:
                        # '%.3d' % -5 == '-005'; '%08.3d' % 5 keeps
                        # zero-padding through the width; '%.0d' % 0
                        # is '0' (printf, unlike format())
                        p = int(prc)
                        ds0 = F.abs(c).cast("string")
                        digits = F.when(F.length(ds0) < p,
                                        F.lpad(ds0, p, "0")) \
                                  .otherwise(ds0)
                        sgn = F.when(c < 0, F.lit("-")).otherwise(
                            F.lit("+" if "+" in flags else
                                  " " if " " in flags else ""))
                        body = F.concat(sgn, digits)
                        w = int(width) if width else 0
                        if w:
                            # repeat+concat, NOT lpad/rpad: those
                            # TRUNCATE a body longer than the width
                            padn = F.greatest(
                                F.lit(w) - F.length(body),
                                F.lit(0)).cast("int")
                            if "-" in flags:
                                body = F.concat(
                                    body, F.repeat(F.lit(" "), padn))
                            elif "0" in flags:
                                body = F.concat(
                                    sgn, F.repeat(F.lit("0"), padn),
                                    digits)
                            else:
                                body = F.concat(
                                    F.repeat(F.lit(" "), padn), body)
                        cols.append(body)
                        out += "%s"
                    elif flags or width:
                        cols.append(self._format_spec(
                            spec_of(flags, width, None) + "d", a))
                        out += "%s"
                    else:
                        cols.append(c)
                        out += "%d"
                elif m.endswith("c"):
                    # %c: chr() of an int/bool, identity for a 1-char
                    # str.  CPython IGNORES the 0/+/space/# flags AND
                    # precision here ('%05c' % 65 == '    A',
                    # '%.2c' % 65 == 'A'); only '-' and width act.
                    pm = _re_mod.match(r"%([-+0 #]*)(\d*)(?:\.(\d+))?$",
                                       m[:-1])
                    flags, width, _prc = pm.groups()
                    cmsg = "%c requires int or char"
                    if a.tag in ("int", "bool") \
                            or (isinstance(a, SConst)
                                and isinstance(a.value, (int, bool))):
                        c = self.to_col(a).cast("long")
                        if getattr(a, "nullable", False):
                            self.guard(c.isNull(), "TypeError",
                                       msg=cmsg)
                        self._guard_chr_range(
                            c, "OverflowError",
                            "%c arg not in range(0x110000)")
                        body = self._chr_col(c)
                    elif a.tag == "str" or (isinstance(a, SConst)
                                            and isinstance(a.value,
                                                           str)):
                        sc = self.to_col(a)
                        if getattr(a, "nullable", False):
                            self.guard(sc.isNull(), "TypeError",
                                       msg=cmsg)
                        self.guard(F.length(sc) != 1, "TypeError",
                                   msg=cmsg)
                        body = sc
                    else:
                        self.guard(F.lit(True), "TypeError", msg=cmsg)
                        body = F.lit("")
                    cols.append(self._pad_str(body, flags, width, None))
                    out += "%s"
                elif m.endswith("r"):
                    # %r: repr(), then %s-style width/precision apply
                    # to the repr text ('%.2r' truncates it); flags
                    # other than '-' are ignored, like %s
                    pm = _re_mod.match(r"%([-+0 #]*)(\d*)(?:\.(\d+))?$",
                                       m[:-1])
                    flags, width, prc = pm.groups()
                    cols.append(self._pad_str(self._repr_col(a),
                                              flags, width, prc))
                    out += "%s"
                else:
                    # %s: CPython IGNORES '+'/' '/'#'/'0' here
                    # ('%05s' % 'ab' == '   ab')
                    pm = _re_mod.match(r"%([-+0 #]*)(\d*)(?:\.(\d+))?$",
                                       m[:-1])
                    flags, width, prc = pm.groups()
                    cols.append(self._pad_str(self._to_str(a),
                                              flags, width, prc))
                    out += "%s"
        return SCol(F.format_string(out, *cols), "str")

    @staticmethod
    def _pad_str(body: Column, flags: str, width: str,
                 prc: str | None) -> Column:
        """%s/%r/%c width/precision by CHARACTER count.  Passing the
        width through to java's Formatter ('%12s') counts UTF-16 code
        UNITS — an astral char (emoji, U+10000+) is 2 units, so java
        pads one space short of CPython (fuzzer catch).  Spark's own
        length()/substring() count codepoints, so the padding is built
        manually; java's Formatter also THROWS on '-' without width
        and on any of '+0 #', all of which CPython ignores here."""
        if prc is not None:
            body = F.substring(body, 1, int(prc))
        if width:
            padn = F.greatest(F.lit(int(width)) - F.length(body),
                              F.lit(0)).cast("int")
            pad = F.repeat(F.lit(" "), padn)
            body = F.concat(body, pad) if "-" in flags \
                else F.concat(pad, body)
        return body

    def _guard_nulls(self, *syms, msg=None):
        for s in syms:
            if isinstance(s, SCol) and s.nullable:
                self.guard(s.col.isNull(), "TypeError", msg=msg)

    def _deref(self, s: Sym, exc: str = "TypeError") -> Sym:
        """Guard a None receiver (CPython raises ``exc``): past the guard
        the value is never None, so later ops need no guard of their own."""
        if not (isinstance(s, SCol) and s.nullable):
            return s
        self.guard(s.col.isNull(), exc)
        return SCol(s.col, s.tag, False, s.elem)

    def _ev_UnaryOp(self, node):
        v = self.eval(node.operand)
        if isinstance(node.op, ast.Not):
            if isinstance(v, SConst):
                return SConst(not v.value)
            return SCol(~self.truthy(v), "bool")
        if isinstance(node.op, ast.USub):
            if isinstance(v, SConst) and v.value is not None:
                return SConst(-v.value)
            n = self.num(v, "unary -")
            return SCol(-self.to_col(n), n.tag)
        if isinstance(node.op, ast.UAdd):
            return self.num(v, "unary +")
        if isinstance(node.op, ast.Invert):
            n = self.num(v, "~")
            return SCol(-self.to_col(n) - 1, "int")
        raise CompileError("unary op")

    def _under_path(self, cond: Column):
        """Context for evaluating an expression CPython would only reach
        when ``cond`` holds (short-circuit arms, ternary branches)."""
        @contextlib.contextmanager
        def cm():
            prev = self._path
            self._path = cond if prev is None else (prev & cond)
            try:
                yield
            finally:
                self._path = prev
        return cm()

    def _ev_BoolOp(self, node):
        # guards in later operands are conditioned on the short-circuit:
        # `x != 0 and 1 // x > 0` must not mark x == 0 rows
        is_and = isinstance(node.op, ast.And)
        conds: list[Column] = []
        out = None
        for i, v in enumerate(node.values):
            if conds:
                gate = conds[0] if is_and else ~conds[0]
                for c in conds[1:]:
                    gate = (gate & c) if is_and else (gate & ~c)
                with self._under_path(gate):
                    val = self.eval(v)
            else:
                val = self.eval(v)
            c = self.truthy(val)
            conds.append(c)
            out = c if out is None else ((out & c) if is_and else (out | c))
        return SCol(out, "bool")

    def _ev_Compare(self, node):
        left = self.eval(node.left)
        rights = [self.eval(c) for c in node.comparators]
        if isinstance(left, SConst) \
                and all(isinstance(r, SConst) for r in rights):
            # constant fold — an unrolled loop's break/continue guards
            # over literal indices (j >= i) must resolve statically, not
            # materialize when() merge chains
            try:
                lv, res = left.value, True
                for op, r in zip(node.ops, rights):
                    res = res and _py_compare(op, lv, r.value)
                    lv = r.value
                return SConst(bool(res))
            except Exception:
                pass  # raising comparison: symbolic path guards it
        out: Column | None = None
        for op, right in zip(node.ops, rights):
            c = self._compare(op, left, right)
            out = c if out is None else (out & c)
            left = right
        return SCol(out, "bool")

    def _compare(self, op, l: Sym, r: Sym) -> Column:
        if (isinstance(l, SJson) or isinstance(r, SJson)) \
                and not isinstance(op, (ast.In, ast.NotIn)):
            jv, other = (l, r) if isinstance(l, SJson) else (r, l)
            if isinstance(other, SJson) or not isinstance(other, SConst):
                raise CompileError("json value compared to non-constant")
            if isinstance(op, (ast.Is, ast.IsNot)) \
                    and other.value is not None:
                raise CompileError("json `is` non-None")
            if isinstance(op, (ast.Eq, ast.Is)):
                return self._json_eq(jv, other)
            if isinstance(op, (ast.NotEq, ast.IsNot)):
                return ~self._json_eq(jv, other)
            raise CompileError("json value ordering comparison")
        if isinstance(op, (ast.Is, ast.IsNot)):
            if isinstance(r, SConst) and r.value is None:
                c = self.to_col(l).isNull()
                return c if isinstance(op, ast.Is) else ~c
            if isinstance(l, SConst) and l.value is None:
                c = self.to_col(r).isNull()
                return c if isinstance(op, ast.Is) else ~c
            op = ast.Eq() if isinstance(op, ast.Is) else ast.NotEq()
        if isinstance(op, (ast.In, ast.NotIn)):
            c = self._membership(l, r)
            return c if isinstance(op, ast.In) else ~c
        if "set" in (getattr(l, "tag", None), getattr(r, "tag", None)):
            # set relations: equality/subset via empty array_except
            # (order-free); set vs non-set: CPython == is False,
            # ordering raises TypeError
            if getattr(l, "tag", None) != "set" \
                    or getattr(r, "tag", None) != "set":
                if isinstance(op, ast.Eq):
                    return F.lit(False)
                if isinstance(op, ast.NotEq):
                    return F.lit(True)
                self.guard(F.lit(True), "TypeError")
                return F.lit(None).cast("boolean")
            try:
                # {1} == {1.0} == {True}: elements meet on the lattice
                _, elem = _unify_arms([l, r])
                lc, rc = self._as(l, "set", elem), self._as(r, "set", elem)
                sub = F.size(F.array_except(lc, rc)) == 0   # l <= r
                sup = F.size(F.array_except(rc, lc)) == 0   # r <= l
            except CompileError:
                # disjoint element TYPES: relations reduce to emptiness
                # ({} == {} holds across types; raw array_except would
                # be an analysis error)
                lc, rc = self.to_col(l), self.to_col(r)
                sub = F.size(lc) == 0
                sup = F.size(rc) == 0
            return {ast.Eq: sub & sup, ast.NotEq: ~(sub & sup),
                    ast.LtE: sub, ast.GtE: sup,
                    ast.Lt: sub & (F.size(lc) < F.size(rc)),
                    ast.Gt: sup & (F.size(rc) < F.size(lc))}[type(op)]
        # cross-family compares: CPython returns False/True for ==/!=
        # (5 == "5" is False — Spark's eqNullSafe would CAST and match)
        # and raises TypeError for ordering; both differ from Spark's
        # implicit-coercion semantics, so resolve them at compile time
        fam_l, fam_r = _tag_family(l), _tag_family(r)
        mixed = fam_l is not None and fam_r is not None and fam_l != fam_r
        # CPython: NaN is unequal and unordered to everything; Spark
        # has NaN = NaN and orders NaN above every other double
        floats = "float" in (getattr(l, "tag", None),
                             getattr(r, "tag", None))
        # None literal on either side of ==/!= -> null checks
        if isinstance(op, (ast.Eq, ast.NotEq)):
            if (isinstance(r, SConst) and r.value is None):
                c = self.to_col(l).isNull()
            elif (isinstance(l, SConst) and l.value is None):
                c = self.to_col(r).isNull()
            elif mixed:
                c = F.lit(False)
            else:
                lc, rc = self.to_col(l), self.to_col(r)
                c = lc.eqNullSafe(rc)
                if floats:
                    c = c & ~(F.isnan(lc) | F.isnan(rc))
            return c if isinstance(op, ast.Eq) else ~c
        if mixed:
            self.guard(F.lit(True), "TypeError")
            return F.lit(None).cast("boolean")
        # ordering: CPython raises TypeError on None operands
        self._guard_nulls(l, r)
        lc, rc = self.to_col(l), self.to_col(r)
        c = {ast.Lt: lc < rc, ast.LtE: lc <= rc,
             ast.Gt: lc > rc, ast.GtE: lc >= rc}[type(op)]
        return c & ~(F.isnan(lc) | F.isnan(rc)) if floats else c

    def _membership(self, item: Sym, container: Sym) -> Column:
        if isinstance(container, SJson):
            return self._json_membership(item, container)
        if isinstance(container, SConst) and isinstance(container.value,
                                                       (list, tuple, set)):
            return self.to_col(item).isin(*container.value)
        if isinstance(container, STuple):
            consts = [i.value for i in container.items
                      if isinstance(i, SConst)]
            if len(consts) == len(container.items):
                return self.to_col(item).isin(*consts)
        if isinstance(container, SDict):
            # `k in {...}` tests KEYS (string-literal keys by construction)
            return self.to_col(item).isin(*container.items.keys())
        if container.tag == "str":
            return F.contains(self.to_col(container), self.to_col(item))
        if container.tag in ("array", "set"):
            cc, ic = self.to_col(container), self.to_col(item)
            ifam = _tag_family(item)
            elem = container.elem
            efam = ("num" if elem in ("int", "float", "bool") else
                    "str" if elem == "str" else None)
            if ifam is not None and efam is not None:
                if ifam != efam:
                    # '1 in {"a"}' is False in CPython; the raw
                    # array_contains would be an ANALYSIS error
                    return F.lit(False)
                itag = getattr(item, "tag", None)
                if not isinstance(itag, str):
                    itag = _pytag(item.value)
                if efam == "num" and itag != elem:
                    # 1.0 in {1} is True: compare in double space
                    cc = cc.cast("array<double>")
                    ic = ic.cast("double")
            return F.array_contains(cc, ic)
        if container.tag == "map":
            return F.map_contains_key(self.to_col(container),
                                      self.to_col(item))
        raise CompileError("membership container")

    def _ev_IfExp(self, node):
        cond = self.truthy(self.eval(node.test))
        with self._under_path(cond):
            t = self.eval(node.body)
        with self._under_path(~cond):
            f = self.eval(node.orelse)
        return self._merge_vals(cond, t, f)

    def _ev_JoinedStr(self, node):
        parts = []
        for v in node.values:
            if isinstance(v, ast.Constant):
                parts.append(F.lit(v.value))
            elif isinstance(v, ast.FormattedValue):
                spec = None
                if v.format_spec is not None:
                    fs = v.format_spec
                    if not (isinstance(fs, ast.JoinedStr)
                            and len(fs.values) == 1
                            and isinstance(fs.values[0], ast.Constant)):
                        raise CompileError("dynamic f-string format spec")
                    spec = fs.values[0].value
                val = self.eval(v.value)
                if spec is not None:
                    if v.conversion != -1:
                        # '{x!r:>10}': conversion first, then the spec
                        # applies to the resulting STRING
                        if v.conversion == 114:
                            val = SCol(self._repr_col(val), "str", False)
                        elif v.conversion == 115:
                            val = SCol(self._to_str(val), "str", False)
                        else:
                            raise CompileError("f-string conversion")
                    parts.append(self._format_spec(spec, val))
                    continue
                if v.conversion == 114:  # !r
                    parts.append(self._repr_col(val))
                    continue
                if v.conversion not in (-1, 115):  # none / !s compile
                    raise CompileError("f-string conversion")  # !a
                parts.append(self._to_str(val))
            else:
                raise CompileError("f-string part")
        return SCol(F.concat(*parts), "str")

    @staticmethod
    def _cpython_fixed_round(c: Column, prec: int) -> Column:
        """Round a double column to ``prec`` decimal digits with CPython
        '%f' semantics: correctly rounded HALF_EVEN on the exact BINARY
        value.  Java's Formatter (and Spark's round/bround) instead
        round the double's shortest decimal repr, so a value whose repr
        looks like a tie ('2.675') rounds differently from its binary
        value (2.67499999999999982...).  Veltkamp/Dekker twoProduct
        yields the exact product x*10^prec as a (p, err) double pair
        using only IEEE-exact Column arithmetic; the corrected nearest
        integer K divided back by 10^prec has a repr with <= prec
        fractional digits, so the downstream java %.<prec>f emits it
        verbatim (no further rounding).  |x|*10^prec >= 2^52, inf and
        NaN keep the raw value (java-native formatting; divergence only
        on >17-significant-digit pathologies)."""
        P = F.lit(float(10 ** prec))
        p = c * P
        split = F.lit(134217729.0)  # 2^27 + 1
        ca = split * c
        ahi = ca - (ca - c)
        alo = c - ahi
        cb = split * P
        bhi = cb - (cb - P)
        blo = P - bhi
        err = ((ahi * bhi - p) + ahi * blo + alo * bhi) + alo * blo
        k0 = F.bround(p, 0)
        frac = (p - k0) + err  # Sterbenz-exact: |p - k0| < 1
        k = (F.when(frac > 0.5, k0 + 1)
              .when(frac < -0.5, k0 - 1)
              .when((frac == 0.5) | (frac == -0.5),
                    F.when(k0 % 2 == 0.0, k0)
                     .otherwise(k0 + F.signum(frac)))
              .otherwise(k0))
        v = k / P
        # keep the sign so small negatives and -0.0 format as '-0.00'
        # like CPython (bround rides BigDecimal, which has no -0.0;
        # the string cast is the only -0.0 probe that works under
        # non-ANSI, where 1.0/±0.0 is NULL, not ±Inf)
        neg = c.cast("string").startswith("-")
        v = F.when(neg, -F.abs(v)).otherwise(F.abs(v))
        return F.when(F.abs(c) * P < 4503599627370496.0, v).otherwise(c)

    @staticmethod
    def _pow10_col(n: Column) -> Column:
        """``10**n`` as a double for an integer column ``n >= 0`` via a
        string parse ("1" + n zeros) — correctly rounded for any n and
        EXACT while 10**n is representable (n <= 22), the only range
        the exact tie-breaker below relies on.  (Math.pow is only
        1-ulp-accurate, so it is not used.)"""
        return F.concat(F.lit("1"), F.repeat(F.lit("0"), n.cast("int"))) \
                .cast("double")

    @staticmethod
    def _thread_grouped(d: Column, t: Column, sep: str, gsize: int,
                        klass: str = r"\d") -> Column:
        """CPython's zero-pad-through-grouping: left-pad the digit
        string ``d`` with zeros to the smallest digit count k whose
        grouped form (``sep`` every ``gsize`` digits from the right)
        reaches total width >= ``t``, then insert the separators.
        k = t - (t-1)//(gsize+1) inverts glen(k) = k + (k-1)//gsize;
        the grouped form never leads with a separator, so the result
        may exceed t by design (probed: '{:08,d}'.format(42) ==
        '0,000,042' — 9 chars)."""
        k = F.greatest(
            F.length(d),
            t - F.floor((t - 1) / F.lit(float(gsize + 1))).cast("int"))
        padded = F.concat(
            F.repeat(F.lit("0"), (k - F.length(d)).cast("int")), d)
        return F.regexp_replace(
            padded, f"({klass})(?=(?:{klass}{{{gsize}}})+$)",
            f"$1{sep}")

    def _sci_digits(self, a: Column, K: int):
        """First ``K`` correctly-rounded (HALF_EVEN on the exact BINARY
        value, CPython's rule) significant decimal digits of the
        non-negative finite double column ``a``, plus the decimal
        exponent of the leading digit: returns ``(digits, e10)`` with
        ``digits`` a K-char string ("000.." for zero) and
        ``a == 0.digits * 10**(e10+1)``.

        Java/Spark render doubles from the SHORTEST ROUND-TRIP repr
        (probed: %.40e zero-pads 0.1 and is flat wrong on subnormals),
        so the digits are derived from the repr string instead:
        (a) repr longer than K digits: rounding the repr's digit
            string at position K+1 points the same way as rounding the
            exact binary value — the repr lies inside the value's
            round-trip interval, and a K+1-digit lattice point inside
            that interval would itself have been the repr — EXCEPT on
            an exact '5000...' tail, where the true direction is
            recovered with Veltkamp twoProduct arithmetic, exact
            wherever a true binary tie can exist (the halfway decimal
            M*10^n is a representable double only for |n| <= 22,
            M <= 10^15, same window as _cpython_fixed_round);
        (b) repr with <= K digits: the remaining exact digits are
            zeros (the repr value IS the double, a <= K-digit decimal
            lattice point, K <= 15 keeps |x - repr| below half a
            lattice step);
        (c) subnormals break (b)'s ulp argument (format(5e-324,'.2e')
            is '4.94e-324', not '5.00e-324'), so their digits come
            from exact integer arithmetic: n = a*2^537*2^537 (exact
            power-of-two multiplies, an integer <= 2^52) and
            a = n * 2^-1074, whose digits are n * 4.94065...e-324
            computed to ~21 significant digits in decimal(38).

        Documented divergence (no true binary ties exist there): a
        repr tail of exactly '5000...' with |e10 - K| > 22 resolves
        its direction by an approximate comparison, and subnormal
        near-ties are resolved from 21-digit arithmetic.

        Every multiply-referenced intermediate is STAGED as a CSE
        projection layer (_stage) — the inlined tree for one
        '{:e}' printed to 1.7 MB, took 9.5 s to analyze, and OOM'd
        driver codegen.  The K-independent digit extraction (a, s, D,
        E0) is staged once per distinct source expression and cached,
        so several specs over the same value share it."""
        assert 1 <= K <= 15
        if self._hof_depth > 0:  # no projection to stage in
            raise CompileError("format spec inside higher-order function")
        skey = a._jc.toString()
        hit = self._sci_staged.get((skey, K))
        if hit is not None:
            return hit
        base = self._sci_staged.get(skey)
        if base is None:
            a = self._stage(a)
            base = self._sci_base(a)
            self._sci_staged[skey] = base
        a, D, E0 = base
        res = self._sci_round(a, D, E0, K)
        self._sci_staged[(skey, K)] = res
        return res

    def _sci_base(self, a: Column):
        """Stage the K-independent digit extraction for _sci_digits:
        returns (a, D, E0) with D the repr/subnormal digit string and
        E0 the decimal exponent of its leading digit."""
        s = self._stage(a.cast("string"))
        m = F.substring_index(s, "E", 1)
        eexp = F.when(s.contains("E"),
                      F.substring_index(s, "E", -1).cast("int")) \
                .otherwise(F.lit(0))
        ip = F.substring_index(m, ".", 1)
        fr = F.substring_index(m, ".", -1)
        ipz = ip == "0"
        frs = F.regexp_replace(fr, "^0+", "")
        lead = F.length(fr) - F.length(frs)
        d_repr = F.when(ipz, frs).otherwise(
            F.when(fr == "0", ip).otherwise(F.concat(ip, fr)))
        e_repr = F.when(ipz, -lead - 1 + eexp) \
                  .otherwise(F.length(ip) - 1 + eexp)
        sub = (a < 2.2250738585072014e-308) & (a > 0)
        nsub = (a * F.lit(2.0 ** 537) * F.lit(2.0 ** 537)) \
            .cast("decimal(17,0)")
        prod = (nsub
                * F.lit("4.94065645841246544176568792868221372365")
                   .cast("decimal(21,20)")).cast("string")
        pi = F.substring_index(prod, ".", 1)
        d_sub = F.concat(pi, F.substring_index(prod, ".", -1))
        e_sub = F.length(pi) - 1 - 324
        D = self._stage(F.when(sub, d_sub).otherwise(d_repr))
        E0 = self._stage(
            F.when(sub, e_sub)
             .when(d_repr == "", F.lit(0))
             .otherwise(e_repr))
        return a, D, E0

    def _sci_round(self, a: Column, D: Column, E0: Column, K: int):
        """Round the staged digit string ``D`` (exponent ``E0``) of the
        double ``a`` to ``K`` significant digits, HALF_EVEN on the
        exact binary value (see _sci_digits)."""
        L = F.length(D)
        head = F.substring(D, 1, K)
        t1 = F.substring(D, K + 1, 1)
        rest_zero = ~F.substring(D, K + 2, 1 << 30).rlike("[1-9]")
        hnum = head.cast("long")
        up_clear = (t1 > "5") | ((t1 == "5") & ~rest_zero)
        sub = (a < 2.2250738585072014e-308) & (a > 0)
        tie = (t1 == "5") & rest_zero & ~sub
        # tie direction: sign of a - M*10^ne with M = 10*hnum + 5
        M = (hnum * 10 + 5).cast("double")
        ne = E0 - F.lit(K)

        def two_prod(x, y):
            p = x * y
            sp = F.lit(134217729.0)  # 2^27 + 1
            cx = sp * x
            xhi = cx - (cx - x)
            xlo = x - xhi
            cy = sp * y
            yhi = cy - (cy - y)
            ylo = y - yhi
            err = ((xhi * yhi - p) + xhi * ylo + xlo * yhi) + xlo * ylo
            return p, err

        def exact_sign(q, r):
            # sign of q + r via TwoSum: the rounded sum when nonzero
            # (rounding is monotone, so the sign survives), else the
            # exact residual
            ssum = q + r
            b = ssum - q
            res = (q - (ssum - b)) + (r - b)
            return F.when(ssum != 0, F.signum(ssum)) \
                    .otherwise(F.signum(res))

        pos = self._pow10_col(F.greatest(ne, F.lit(0)))
        negp = self._pow10_col(F.greatest(-ne, F.lit(0)))
        # stage the twoProduct outputs: exact_sign references each of
        # its args 2-3x, which re-inlined the ~150-node err trees
        pa, ea = map(self._stage, two_prod(M, pos))  # a vs M*10^ne
        sgn_dn = exact_sign(a - pa, -ea)   # a - pa Sterbenz near a tie
        pb, eb = map(self._stage, two_prod(a, negp))  # ne < 0
        sgn_up = exact_sign(pb - M, eb)
        # dsgn/out are staged too: their re-inlining (4x in digits)
        # pushed one whole-stage method past janino's 64 KB limit,
        # demoting the whole stage to interpreted evaluation
        dsgn = self._stage(
            F.when(ne > 22, F.signum(a / pos - M))
             .when(ne >= 0, sgn_dn)
             .otherwise(sgn_up))
        up = up_clear | (tie & ((dsgn > 0)
                                | ((dsgn == 0) & (hnum % 2 == 1))))
        out = self._stage(
            hnum + F.when(up, F.lit(1)).otherwise(F.lit(0)))
        ovf = out == F.lit(10 ** K)
        digits = F.when(L <= K, F.rpad(D, K, "0")) \
                  .when(ovf, F.lit("1" + "0" * (K - 1))) \
                  .otherwise(out.cast("string"))
        e10 = (F.when(L <= K, E0).when(ovf, E0 + 1).otherwise(E0)) \
            .cast("int")
        # the caller references both several times (mantissa split,
        # fixed/sci arbitration for 'g'): return cheap staged refs
        return self._stage(digits), self._stage(e10)

    _FORMAT_SPEC_RE = _re_mod.compile(
        r"^(?:(?P<fill>.)?(?P<align>[<>^=]))?(?P<sign>[-+ ]?)"
        r"(?P<alt>#?)(?P<zero>0?)"
        r"(?P<width>\d*)(?P<comma>[,_]?)(?:\.(?P<prec>\d+))?"
        r"(?P<typ>[dfsxXobeEgG%]?)$")

    def _format_spec(self, spec: str, val: Sym) -> Column:
        """The one format-spec lowering, shared by f-strings,
        ``str.format``, ``format()`` and %-formats: fill/align
        (``<>^=``), sign (``+``/space), ``#``, zero flag, width,
        thousands separator, precision and type.  Type rules mirror
        CPython ('d' of a float or 's' of a number is a ValueError row).
        Width, precision and alignment are built from length/substring/
        repeat/concat, which count characters as CPython does (java's
        Formatter counts UTF-16 units, so a non-BMP character would pad
        one short), with CPython's exact padding split (the ``^``
        left-bias, ``=`` pad-after-sign); signs and commas ride
        java.util.Formatter, whose en-US grouping matches CPython's ','
        (probed).  Specs outside this grammar fall back.  An empty
        spec is ``str(val)``; any other spec over None raises TypeError
        (NoneType.__format__ takes no spec)."""
        if not spec:
            return self._to_str(val)
        if isinstance(val, SConst) and val.value is None:
            self.guard(F.lit(True), "TypeError")
            return F.lit(None).cast("string")
        val = self._deref(val)
        m = self._FORMAT_SPEC_RE.match(spec)
        if not m:
            raise CompileError(f"format spec {spec!r}")
        fill, align, sign, alt, zero, width, comma, prec, typ = m.group(
            "fill", "align", "sign", "alt", "zero", "width", "comma",
            "prec", "typ")
        # CPython threads the grouping THROUGH zero padding exactly
        # when the effective fill is '0' and the effective align '='
        # ('{:08,d}' -> '0,000,042', widening past w when a separator
        # would lead); other fills pad plainly around the grouped core
        eff_fill = fill if fill is not None else ("0" if zero else " ")
        eff_align = align or ("=" if zero else ">")
        thread = bool(comma) and bool(width) \
            and eff_fill == "0" and eff_align == "="
        if thread and typ in ("e", "E", "g", "G"):
            # threads through the MANTISSA padding ('{:012,e}' ->
            # '0,001.500000e+00') — unimplemented, exact fallback
            raise CompileError(f"format spec {spec!r}")
        tag = getattr(val, "tag", None)
        if isinstance(val, SConst):
            tag = _pytag(val.value)
        if not typ:
            if tag == "str":
                typ = "s"
            elif tag in ("int", "bool"):
                typ = "d"
            elif tag == "float" and prec is not None:
                typ = "f"
            elif tag == "float":
                typ = "py"  # bare spec: repr form ('{:8}' -> '     2.5')
            else:
                raise CompileError(f"format spec {spec!r}")
        if alt and typ not in ("x", "X", "o", "b", "d", "py",
                               "e", "E", "g", "G", "f", "%"):
            raise CompileError(f"format spec {spec!r}")  # '#' with s
        err = lambda: (self.guard(F.lit(True), "ValueError"),
                       F.lit(None).cast("string"))[1]
        if typ == "py":
            # repr text with numeric alignment/zero-fill semantics
            # ('{:08}'.format(-2.5) == '-00002.5'); grouping of the
            # repr's integer part stays an exact fallback
            if comma:
                raise CompileError(f"format spec {spec!r}")
            core = _py_float_str(self.to_col(val).cast("double"))
            if alt:
                # '#' forces a decimal point: format(1e-05, '#') is
                # '1.e-05' (the repr's fixed forms always carry one;
                # only the sci forms lack it, and inf/nan have no 'e')
                core = F.when(core.contains("e") & ~core.contains("."),
                              F.regexp_replace(core, "e", ".e")) \
                        .otherwise(core)
            if sign in ("+", " "):
                core = F.when(core.startswith("-"), core) \
                        .otherwise(F.concat(F.lit(sign), core))
        elif typ == "s":
            if tag not in ("str", None):
                return err()  # 's' on numbers: CPython ValueError
            if sign in ("+", " ") or comma or align == "=":
                return err()  # sign/comma/'=' on strings; 0-pad is
                # FINE ('{:08}'.format('ab') == 'ab000000', probed)
            core = self._to_str(val)
            if prec is not None:
                core = F.substring(core, 1, int(prec))
        elif typ == "d":
            if tag in ("float", "str") or prec is not None:
                return err()
            if thread:
                c = self.to_col(val).cast("long")
                sgn = F.when(c < 0, F.lit("-")).otherwise(
                    F.lit("+" if sign == "+" else " " if sign == " "
                          else ""))
                t = F.lit(int(width)) - F.length(sgn)
                core = F.concat(sgn, self._thread_grouped(
                    F.abs(c).cast("string"), t, comma, 3))
            else:
                jfmt = "%" + ("+" if sign == "+" else " " if sign == " "
                              else "") + ("," if comma == "," else "") \
                    + "d"
                core = F.format_string(jfmt,
                                       self.to_col(val).cast("long"))
                if comma == "_":
                    # java has no underscore grouping: insert via
                    # lookahead over the digit run (the sign char is
                    # not a digit, so the end-anchored count holds)
                    core = F.regexp_replace(
                        core, r"(\d)(?=(?:\d{3})+$)", "$1_")
        elif typ in ("x", "X", "o", "b"):
            # integer presentation types: sign + optional 0x/0o/0b
            # prefix + base digits; CPython renders negatives as
            # -<digits> (not two's complement), and '=' zero-padding
            # fills BETWEEN the prefix and the digits
            if tag in ("float", "str") or prec is not None \
                    or comma == ",":
                return err()  # ',' invalid with x/o/b in CPython
            c = self.to_col(val).cast("long")
            a = F.abs(c)
            digits = {"x": F.format_string("%x", a),
                      "X": F.format_string("%X", a),
                      "o": F.format_string("%o", a),
                      "b": F.bin(a)}[typ]
            prefix = {"x": "0x", "X": "0X", "o": "0o", "b": "0b"}[typ] \
                if alt else ""
            sgn = F.when(c < 0, F.lit("-")).otherwise(
                F.lit("+" if sign == "+" else " " if sign == " "
                      else ""))
            if comma == "_":  # every 4 for the binary bases (CPython)
                if thread:  # zero-pad threads the grouping (09_x)
                    t = F.lit(int(width)) - F.length(sgn) \
                        - F.lit(len(prefix))
                    digits = self._thread_grouped(
                        digits, t, "_", 4, "[0-9A-Fa-f]")
                else:
                    digits = F.regexp_replace(
                        digits,
                        r"([0-9A-Fa-f])(?=(?:[0-9A-Fa-f]{4})+$)",
                        "$1_")
            w = int(width) if width else 0
            al = align or ("=" if zero else ">")
            if w and al == "=":
                fill_ch = fill if fill is not None else \
                    ("0" if zero else " ")
                padn = F.greatest(
                    F.lit(w) - F.length(sgn) - F.lit(len(prefix))
                    - F.length(digits), F.lit(0))
                return F.concat(sgn, F.lit(prefix),
                                F.repeat(F.lit(fill_ch),
                                         padn.cast("int")), digits)
            core = F.concat(sgn, F.lit(prefix), digits)
        elif typ in ("e", "E", "g", "G"):
            # scientific / general notation from _sci_digits (exact
            # CPython rounding; java formats from the shortest repr
            # with HALF_UP, wrong on e.g. '{:.0e}'.format(-0.25))
            if tag == "str":
                return err()
            if comma and typ in ("g", "G"):
                raise CompileError(f"format spec {spec!r}")
            # ',' with e/E groups a 1-digit integer part: no-op
            p = int(prec) if prec is not None else 6
            cd = self.to_col(val).cast("double")
            av = F.abs(cd)
            # '-' prefix of the string cast catches -0.0 too (a
            # 1.0/cd probe is NULL under non-ANSI division-by-zero)
            neg = cd.cast("string").startswith("-")
            sgn = F.when(neg, F.lit("-")).otherwise(
                F.lit("+" if sign == "+" else " " if sign == " "
                      else ""))
            if typ in ("e", "E"):
                if p > 14:
                    raise CompileError(f"format spec {spec!r}")
                dg, e10 = self._sci_digits(av, p + 1)
                if p:
                    mant = F.concat(F.substring(dg, 1, 1), F.lit("."),
                                    F.substring(dg, 2, p))
                else:  # '#' forces the point at precision 0
                    mant = F.concat(dg, F.lit(".")) if alt else dg
            else:
                p = p or 1  # CPython: g precision 0 means 1
                if p > 15:
                    raise CompileError(f"format spec {spec!r}")
                dg, e10 = self._sci_digits(av, p)
                ds = dg if alt else F.regexp_replace(dg, "0+$", "")
                one = F.concat(ds, F.lit(".")) if alt else ds
                mant = F.when(F.length(ds) == 1, one).otherwise(
                    F.concat(F.substring(ds, 1, 1), F.lit("."),
                             F.substring(ds, 2, 99)))
            ex = F.abs(e10).cast("string")
            ex = F.when(F.length(ex) < 2, F.concat(F.lit("0"), ex)) \
                  .otherwise(ex)
            etail = F.concat(
                F.lit("e"),
                F.when(e10 < 0, F.lit("-")).otherwise(F.lit("+")), ex)
            if typ in ("e", "E"):
                body = F.concat(mant, etail)
            else:
                # 'g' fixed form for -4 <= exp < p, sci otherwise;
                # trailing zeros stripped unless '#'
                ipart = F.when(e10 >= 0, dg.substr(F.lit(1), e10 + 1)) \
                         .otherwise(F.lit("0"))
                fpart = F.when(e10 >= 0, dg.substr(e10 + 2, F.lit(99))) \
                         .otherwise(F.concat(
                             F.repeat(F.lit("0"),
                                      (-e10 - 1).cast("int")), dg))
                if not alt:
                    fpart = F.regexp_replace(fpart, "0+$", "")
                fixed = F.when(fpart == "",
                               F.concat(ipart,
                                        F.lit("." if alt else ""))) \
                         .otherwise(F.concat(ipart, F.lit("."), fpart))
                body = F.when((e10 >= -4) & (e10 < p), fixed) \
                        .otherwise(F.concat(mant, etail))
            body = F.when(F.isnan(cd), F.lit("nan")) \
                    .when(av == float("inf"), F.lit("inf")) \
                    .otherwise(body)
            if typ in ("E", "G"):
                body = F.upper(body)
            core = F.concat(sgn, body)
        else:  # 'f' / '%'
            if tag == "str":
                return err()
            p = int(prec) if prec is not None else 6
            cd = self.to_col(val).cast("double")
            if typ == "%":
                cd = cd * 100.0  # CPython formats x*100.0 (a double)
            rounded = self._cpython_fixed_round(cd, p)
            if thread:
                # zero fill threads the grouping through the integer
                # part; the '.'/'%' tail chars consume width first
                body = F.format_string(f"%.{p}f", F.abs(rounded))
                sgn = F.when(cd.cast("string").startswith("-"),
                             F.lit("-")).otherwise(
                    F.lit("+" if sign == "+" else " " if sign == " "
                          else ""))
                tail_n = (1 if (alt and p == 0) else 0) \
                    + (1 if typ == "%" else 0)
                ip = F.substring_index(body, ".", 1) if p else body
                frac = F.concat(
                    F.lit("."), F.substring_index(body, ".", -1)) \
                    if p else F.lit("")
                t = F.lit(int(width)) - F.length(sgn) \
                    - F.lit((p + 1 if p else 0) + tail_n)
                core = F.concat(
                    sgn, self._thread_grouped(ip, t, comma, 3), frac)
            else:
                jfmt = "%" + ("+" if sign == "+" else " " if sign == " "
                              else "") + ("," if comma == "," else "") \
                    + f".{p}f"
                core = F.format_string(jfmt, rounded)
                if comma == "_":
                    # integer part only: anchor the count on the
                    # decimal point (always present for p >= 1;
                    # end-anchored at 0)
                    pat = r"(\d)(?=(?:\d{3})+\.)" if p else \
                        r"(\d)(?=(?:\d{3})+$)"
                    core = F.regexp_replace(core, pat, "$1_")
            if alt and p == 0:
                core = F.concat(core, F.lit("."))  # '{:#.0f}' -> '4.'
            # java prints 'Infinity'/'NaN'; CPython 'inf'/'nan'
            sflag = "+" if sign == "+" else " " if sign == " " else ""
            core = F.when(F.isnan(cd), F.lit(sflag + "nan")) \
                    .when(cd == float("inf"), F.lit(sflag + "inf")) \
                    .when(cd == float("-inf"), F.lit("-inf")) \
                    .otherwise(core)
            if typ == "%":
                core = F.concat(core, F.lit("%"))
        w = int(width) if width else 0
        if w == 0:
            return core
        # the zero flag sets the fill char under ANY align, strings
        # included ('{:<08,d}'.format(6042) == '6,042000',
        # '{:08}'.format('ab') == 'ab000000' — probed)
        fill_ch = fill if fill is not None else ("0" if zero else " ")
        al = align or ("=" if (zero and typ != "s")
                       else ("<" if typ == "s" else ">"))
        pad = F.greatest(F.lit(w) - F.length(core), F.lit(0))

        def rep(n):
            return F.repeat(F.lit(fill_ch), n.cast("int"))

        if al == "<":
            return F.concat(core, rep(pad))
        if al == ">":
            return F.concat(rep(pad), core)
        if al == "^":
            left = F.floor(pad / 2)
            return F.concat(rep(left), core, rep(pad - left))
        # '=': padding goes between the sign and the digits
        first = F.substring(core, 1, 1)
        has_sign = first.isin("-", "+", " ")
        rest = F.substring(core, 2, 1 << 30)
        return F.when(has_sign,
                      F.concat(first, rep(pad), rest)) \
            .otherwise(F.concat(rep(pad), core))

    def _to_str(self, s: Sym) -> Column:
        if isinstance(s, SConst):
            return F.lit(str(s.value))
        if getattr(s, "tag", None) in ("set", "array", "map"):
            # str(container): CPython renders quotes and (for sets)
            # hash order; the string cast renders java style — refuse
            raise CompileError(f"str({s.tag})")
        if isinstance(s, SVariant):
            # per-tag CPython str over the RUNTIME type — the raw
            # struct cast rendered '{vt, ...}' (round-12 fix: hit by
            # str(e.args[k]) over mixed-type raise sites)
            c = s.col
            out = F.lit("None")
            for t in s.present:
                name, _, code = _VARIANT_FIELDS[t]
                v = c.getField(name)
                if t == "bool":
                    sv = F.when(v, "True").otherwise("False")
                elif t == "float":
                    sv = _py_float_str(v)
                elif t == "str":
                    sv = v
                else:
                    sv = v.cast("string")
                out = F.when(c.getField("__vt") == code, sv) \
                    .otherwise(out)
            return out
        c = self.to_col(s)
        if s.tag == "bool":
            out = F.when(c, "True").otherwise("False")
        elif s.tag == "float":
            out = _py_float_str(c)
        elif s.tag == "timestamp":
            # CPython str(datetime): microseconds omitted when 0, else
            # exactly 6 zero-padded digits; Spark's string cast trims
            # trailing zeros ('.73809' for .738090)
            ts = c.cast("timestamp")  # NTZ -> LTZ no-op under pinned UTC
            base = F.date_format(ts, "yyyy-MM-dd HH:mm:ss")
            us = F.unix_micros(ts) % 1_000_000
            us = F.when(us < 0, us + 1_000_000).otherwise(us)
            out = F.when(us == 0, base).otherwise(
                F.concat(base, F.lit("."),
                         F.lpad(us.cast("string"), 6, "0")))
        else:
            out = c.cast("string")
        if s.nullable or s.tag in ("any", "null"):
            # CPython: str(None) == 'None' (a value, not a null)
            out = F.when(c.isNull(), F.lit("None")).otherwise(out)
        return out

    def _repr_col(self, s: Sym) -> Column:
        """``repr()`` as a Column: strings get the exact CPython
        quoting/escaping (_py_str_repr); int/float/bool/None reuse
        _to_str because CPython repr == str for them (py3 float repr IS
        shortest round-trip str).  Everything else (containers,
        timestamps, match objects) falls back — their reprs embed
        object structure the Column form doesn't model."""
        if isinstance(s, SConst):
            return F.lit(repr(s.value))
        if s.tag == "str":
            c = self.to_col(s)
            out = _py_str_repr(c)
            if s.nullable:
                out = F.when(c.isNull(), F.lit("None")).otherwise(out)
            return out
        if s.tag in ("int", "float", "bool", "null"):
            return self._to_str(s)
        raise CompileError(f"repr({s.tag})")

    def _b_repr(self, args):
        a = args[0]
        if isinstance(a, SConst):
            return SConst(repr(a.value))
        return SCol(self._repr_col(a), "str", False)

    def _b_format(self, args):
        """``format(x, spec)`` builtin — same lowering as an f-string
        placeholder with that spec; ``format(x)`` is ``str(x)``."""
        if len(args) not in (1, 2):
            raise CompileError("format() arity")
        a = args[0]
        if len(args) == 1:
            return SCol(self._to_str(a), "str", False)
        spec = args[1]
        if not isinstance(spec, SConst) or not isinstance(spec.value, str):
            raise CompileError("format() spec must be a constant str")
        if isinstance(a, SConst):
            return SConst(format(a.value, spec.value))
        return SCol(self._format_spec(spec.value, a), "str", False)

    # -- calls -----------------------------------------------------------
    def _ev_Call(self, node):
        if node.keywords:
            if isinstance(node.func, ast.Name) \
                    and node.func.id not in self._locals and node.args:
                fname = node.func.id
                kwnames = {kw.arg for kw in node.keywords}
                if fname == "sorted" and kwnames <= {"key", "reverse"}:
                    return self._b_sorted_kw(node)
                if fname in ("min", "max") and kwnames == {"key"} \
                        and len(node.args) == 1:
                    return self._b_minmax_kw(node, fname == "min")
            raise CompileError("keyword arguments")
        fn = node.func
        if isinstance(fn, ast.Name) and fn.id in ("map", "filter") \
                and fn.id not in self._locals and len(node.args) == 2:
            return self._b_map_filter(node, fn.id)
        args = [self.eval(a) for a in node.args]
        if isinstance(fn, ast.Name):
            return self._call_builtin(fn.id, args)
        target = self.eval(fn)
        if isinstance(target, _BoundModuleFn):
            return self._call_module(target.mod, target.name, args)
        if isinstance(target, _BoundMethod):
            return self._call_method(target.base, target.name, args)
        raise CompileError("call target")

    def _call_builtin(self, name: str, args: list[Sym]) -> Sym:
        if name in self.env and name not in _BUILTINS:
            raise CompileError(f"call to user function {name}")
        if name not in _BUILTINS:
            raise CompileError(f"builtin {name}")
        return getattr(self, f"_b_{name}")(args)

    def _b_int(self, args):
        if not args:
            return SConst(0)
        if len(args) > 1:
            return self._b_int_base(args)
        a = args[0]
        if isinstance(a, SJson):
            return self._json_to_num(a, "int")
        if isinstance(a, SConst):
            try:
                return SConst(int(a.value))
            except Exception as e:
                self.guard(F.lit(True), type(e).__name__, msg=str(e))
                return SConst(None)
        c = self.to_col(a)
        if a.tag in ("int", "bool"):
            self._guard_nulls(a)
            return SCol(c.cast("long"), "int")
        if a.tag == "float":
            self._guard_nulls(a)
            self.guard(F.isnan(c), "ValueError",
                       msg="cannot convert float NaN to integer")
            self.guard(F.abs(c) == float("inf"), "OverflowError",
                       msg="cannot convert float infinity to integer")
            # CPython truncates toward zero; Spark double->long also truncates
            return SCol(c.cast("long"), "int")
        if a.tag == "str":
            t = F.trim(c)
            valid = t.rlike(r"^[+-]?[0-9]+$")
            if a.nullable:
                self.guard(c.isNull(), "TypeError",
                           msg="int() argument must be a string, a "
                               "bytes-like object or a real number, "
                               "not 'NoneType'")
            self.guard(c.isNotNull() & ~valid, "ValueError",
                       msg=F.concat(
                           F.lit("invalid literal for int() with "
                                 "base 10: "), _py_str_repr(c)))
            return SCol(F.when(valid, t.cast("long")), "int", True)
        raise CompileError(f"int({a.tag})")

    def _b_int_base(self, args):
        """int(s, base) for constant base 2..36: validate with a regex
        that mirrors CPython literal rules exactly (optional sign,
        optional 0x/0o/0b prefix for the matching base, underscores
        single-between-digits), strip sign/prefix/underscores, convert
        the magnitude with F.conv and re-apply the sign (conv alone
        treats '-' as unsigned 64-bit wraparound — the reason this
        previously fell back).  Magnitudes beyond int64 null out like
        the plain int(s) cast does."""
        b = args[1]
        if not (isinstance(b, SConst) and isinstance(b.value, int)
                and not isinstance(b.value, bool)
                and 2 <= b.value <= 36):
            raise CompileError("int base must be a constant in 2..36")
        base = b.value
        a = args[0]
        if isinstance(a, SConst):
            try:
                return SConst(int(a.value, base))
            except Exception as e:
                self.guard(F.lit(True), type(e).__name__, msg=str(e))
                return SConst(None)
        if getattr(a, "tag", None) != "str":
            raise CompileError("int(non-str, base)")
        c = self.to_col(a)
        t = F.trim(c)
        if base <= 10:
            dig = f"0-{base - 1}"
        else:
            last = chr(ord("a") + base - 11)
            dig = f"0-9a-{last}A-{last.upper()}"
        prefix = {16: "0[xX]", 8: "0[oO]", 2: "0[bB]"}.get(base)
        pre_re = f"(?:{prefix}_?)?" if prefix else ""
        valid = t.rlike(f"^[+-]?{pre_re}[{dig}](?:_?[{dig}])*$")
        if a.nullable:
            self.guard(c.isNull(), "TypeError",
                       msg="int() argument must be a string, a "
                           "bytes-like object or a real number, "
                           "not 'NoneType'")
        self.guard(c.isNotNull() & ~valid, "ValueError",
                   msg=F.concat(
                       F.lit(f"invalid literal for int() with "
                             f"base {base}: "), _py_str_repr(c)))
        mag = F.regexp_replace(t, "^[+-]", "")
        if prefix:
            mag = F.regexp_replace(mag, f"^{prefix}_?", "")
        mag = F.replace(mag, F.lit("_"), F.lit(""))
        val = F.conv(mag, base, 10).cast("long")
        res = F.when(t.rlike("^-"), -val).otherwise(val)
        return SCol(F.when(valid, res), "int", True)

    def _b_float(self, args):
        a = args[0]
        if isinstance(a, SJson):
            return self._json_to_num(a, "float")
        if isinstance(a, SConst):
            try:
                return SConst(float(a.value))
            except Exception as e:
                self.guard(F.lit(True), type(e).__name__, msg=str(e))
                return SConst(None)
        c = self.to_col(a)
        if a.tag in ("int", "bool", "float"):
            self._guard_nulls(a)
            return SCol(c.cast("double"), "float")
        if a.tag == "str":
            self._guard_nulls(a, msg="float() argument must be a string"
                              " or a real number, not 'NoneType'")
            casted = F.trim(c).cast("double")
            self.guard(c.isNotNull() & casted.isNull(), "ValueError",
                       msg=F.concat(
                           F.lit("could not convert string to float: "),
                           _py_str_repr(c)))
            return SCol(casted, "float", True)
        raise CompileError(f"float({a.tag})")

    def _b_str(self, args):
        if not args:
            return SConst("")
        a = args[0]
        if isinstance(a, SConst):
            return SConst(str(a.value))
        return SCol(self._to_str(a), "str", a.nullable)

    def _b_bool(self, args):
        if not args:
            return SConst(False)
        return SCol(self.truthy(args[0]), "bool")

    def _b_len(self, args):
        a = args[0]
        if isinstance(a, SJson):
            return self._json_len(a)
        if isinstance(a, SConst):
            return SConst(len(a.value))
        if isinstance(a, (STuple, SDict)):
            return SConst(len(a.items))
        if isinstance(a, SArgsTuple):
            return a.len_sym
        c = self.to_col(a)
        self._guard_nulls(a)
        if a.tag == "str":
            return SCol(F.length(c).cast("long"), "int")
        if a.tag in ("array", "map", "set"):
            return SCol(F.size(c).cast("long"), "int")
        if a.tag == "struct":
            n = len(a.col_schema.fields) if hasattr(a, "col_schema") else None
            if n is not None:
                return SConst(n)
        raise CompileError(f"len({a.tag})")

    def _b_abs(self, args):
        a = self.num(args[0], "abs")
        if isinstance(a, SConst):
            return SConst(abs(a.value))
        return SCol(F.abs(self.to_col(a)), a.tag)

    def _b_round(self, args):
        a = self.num(args[0], "round")
        nd = 0
        if len(args) > 1:
            if not isinstance(args[1], SConst):
                raise CompileError("round ndigits must be constant")
            nd = args[1].value
        c = F.bround(self.to_col(a), nd)  # banker's rounding = CPython
        if len(args) == 1:
            return SCol(c.cast("long"), "int")
        return SCol(c, a.tag)

    def _b_sorted(self, args):
        a = args[0]
        if isinstance(a, SConst):
            return SConst(sorted(a.value))
        if isinstance(a, SCol) and a.tag in ("array", "set"):
            # sorted(set) is order-free input -> deterministic output
            return SCol(F.sort_array(a.col), "array", a.nullable,
                        elem=a.elem)
        raise CompileError(f"sorted({a.tag})")

    def _hof_key(self, key_node, elem: str):
        """Shared key-function evaluator for sorted/min/max(key=...):
        a builtin name or a one-arg lambda, evaluated per element in HOF
        scope (no staging, no guards)."""
        def key_of(x):
            if key_node is None:
                return x, elem
            xs = SCol(x, elem, False)
            if isinstance(key_node, ast.Lambda) \
                    and len(key_node.args.args) == 1 \
                    and not key_node.args.kwonlyargs:
                res, caught = self._lambda_scope(
                    {key_node.args.args[0].arg: xs},
                    lambda: self.eval(key_node.body))
            elif isinstance(key_node, ast.Name) \
                    and key_node.id in _BUILTINS:
                res, caught = self._lambda_scope(
                    {}, lambda: self._call_builtin(key_node.id, [xs]))
            else:
                raise CompileError("key function shape")
            if caught:
                raise CompileError("guard-raising key function")
            return self.to_col(res), res.tag
        return key_of

    def _b_map_filter(self, node, which: str):
        """map(f, xs) -> F.transform, filter(f, xs) -> F.filter (with
        filter(None, xs) keeping truthy elements).  Consistent with the
        iterator-builtins-as-values policy: the lazy iterator
        materializes as the array, which every compiled consumer
        (list/sum/join/any/for) treats identically to CPython."""
        a = self.eval(node.args[1])
        if isinstance(a, SConst) and isinstance(a.value, (list, tuple)):
            a = SCol(F.array(*[F.lit(v) for v in a.value]), "array",
                     False, elem=_pytag(a.value[0]) if a.value else "str")
        if not (isinstance(a, SCol) and a.tag == "array"):
            raise CompileError(f"{which} over {getattr(a, 'tag', '?')}")
        elem = a.elem or "str"
        fn_node = node.args[0]
        if isinstance(fn_node, ast.Constant) and fn_node.value is None:
            if which == "map":
                raise CompileError("map(None, ...)")
            fn_node = None  # filter(None, xs): truthiness
        key_of = self._hof_key(fn_node, elem)
        if which == "map":
            out_tag = [elem]

            def mapper(x):
                col, tag = key_of(x)
                out_tag[0] = tag
                return col

            return SCol(F.transform(a.col, mapper), "array", a.nullable,
                        elem=out_tag[0])

        def pred(x):
            col, tag = key_of(x)
            return self.truthy(SCol(col, tag, True))

        return SCol(F.filter(a.col, pred), "array", a.nullable, elem=elem)

    def _b_ord(self, args):
        a = args[0]
        if isinstance(a, SConst):
            try:
                return SConst(ord(a.value))
            except Exception as e:
                self.guard(F.lit(True), type(e).__name__, msg=str(e))
                return SConst(None)
        if isinstance(a, SCol) and a.tag == "str":
            # CPython requires exactly one character
            self.guard(F.length(a.col) != 1, "TypeError")
            return SCol(F.ascii(a.col).cast("long"), "int", a.nullable)
        raise CompileError(f"ord({getattr(a, 'tag', '?')})")

    @staticmethod
    def _chr_col(c: Column) -> Column:
        """chr(n) as a Column: big-endian UTF-32 bytes of the codepoint,
        decoded — faithful for every valid non-surrogate codepoint
        (Spark's own char() is chr(n % 256), wrong past latin-1)."""
        hexed = F.lpad(F.hex(c.cast("long")), 8, "0")
        return F.decode(F.unhex(hexed), "UTF-32")

    def _guard_chr_range(self, c: Column, exc: str, msg: str) -> None:
        self.guard((c < 0) | (c > 0x10FFFF), exc, msg=msg)
        # lone surrogates: CPython's chr() SUCCEEDS, but the resulting
        # string cannot exist in UTF-8 (Spark) or Arrow — the decode
        # would silently yield U+FFFD.  Loud beats silently-wrong.
        self.guard((c >= 0xD800) & (c <= 0xDFFF), "RuntimeError",
                   msg="surrogate codepoint is not representable in "
                       "UTF-8 engine strings")

    def _b_chr(self, args):
        a = args[0]
        if isinstance(a, SConst):
            try:
                return SConst(chr(a.value))
            except Exception as e:
                self.guard(F.lit(True), type(e).__name__, msg=str(e))
            return SConst(None)
        if a.tag not in ("int", "bool"):
            raise CompileError(f"chr({a.tag})")
        c = self.to_col(self._deref(a)).cast("long")
        self._guard_chr_range(c, "ValueError",
                              "chr() arg not in range(0x110000)")
        return SCol(self._chr_col(c), "str")

    def _b_divmod(self, args):
        """divmod(a, b) == (a // b, a % b) with the engine's CPython
        floor-division/modulo sign semantics.  _divmod_depth makes the
        zero-divisor guard record CPython's divmod-specific message
        ("float divmod()") instead of the floor-division wording."""
        if len(args) != 2:
            raise CompileError("divmod arity")
        self._divmod_depth = getattr(self, "_divmod_depth", 0) + 1
        try:
            return STuple([self._binop(ast.FloorDiv(), args[0], args[1]),
                           self._binop(ast.Mod(), args[0], args[1])])
        finally:
            self._divmod_depth -= 1

    def _b_minmax_kw(self, node, is_min: bool):
        """min/max(xs, key=f) over an array: decorate to struct(key,
        ±index, value) and take array_min/array_max — struct field-order
        comparison picks the extreme key, and the index term breaks ties
        toward the FIRST occurrence (CPython returns the first extreme
        element for both min and max; for max the index rides negated so
        the struct max prefers the smallest original index)."""
        a = self.eval(node.args[0])
        if isinstance(a, SConst) and isinstance(a.value, (list, tuple)):
            a = SCol(F.array(*[F.lit(v) for v in a.value]), "array",
                     False, elem=_pytag(a.value[0]) if a.value else "str")
        if not (isinstance(a, SCol) and a.tag == "array"):
            raise CompileError("min/max key over non-array")
        elem = a.elem or "str"
        key_of = self._hof_key(
            {kw.arg: kw.value for kw in node.keywords}["key"], elem)

        def build(x, i):
            kcol, _ = key_of(x)
            idx = i if is_min else -i
            return F.struct(kcol.alias("k"), idx.alias("i"), x.alias("v"))

        dec = F.transform(a.col, build)
        self.guard(F.size(a.col) == 0, "ValueError",
                   msg=("min" if is_min else "max")
                       + "() arg is an empty sequence")
        best = F.array_min(dec) if is_min else F.array_max(dec)
        return SCol(best.getField("v"), elem, True)

    def _b_sorted_kw(self, node):
        """sorted(xs, key=..., reverse=...) — decorate-sort-undecorate:
        transform each element to struct(key, original_index, value),
        sort_array orders by fields left-to-right so the index keeps
        CPython's STABLE tie order, then project the value back.
        reverse=True negates numeric keys (ascending sort preserves
        stability; a descending sort would reverse ties)."""
        a = self.eval(node.args[0])
        if isinstance(a, SConst) and isinstance(a.value, (list, tuple)):
            a = SCol(F.array(*[F.lit(v) for v in a.value]), "array",
                     False, elem=_pytag(a.value[0]) if a.value else "str")
        if not (isinstance(a, SCol) and a.tag == "array"):
            raise CompileError(f"sorted({a.tag})")
        kws = {kw.arg: kw.value for kw in node.keywords}
        reverse = False
        if "reverse" in kws:
            r = self.eval(kws["reverse"])
            if not isinstance(r, SConst):
                raise CompileError("sorted reverse must be constant")
            reverse = bool(r.value)
        key_node = kws.get("key")
        elem = a.elem or "str"
        if key_node is None and not reverse:
            return SCol(F.sort_array(a.col), "array", a.nullable,
                        elem=elem)

        key_of = self._hof_key(key_node, elem)

        def build(x, i):
            kcol, ktag = key_of(x)
            if reverse:
                if ktag not in ("int", "float", "bool"):
                    raise CompileError("sorted reverse needs numeric key")
                kcol = -kcol.cast("double")
            return F.struct(kcol.alias("k"), i.alias("i"), x.alias("v"))

        dec = F.transform(a.col, build)
        out = F.transform(F.sort_array(dec), lambda s: s.getField("v"))
        return SCol(out, "array", a.nullable, elem=elem)

    def _b_sum(self, args):
        a = args[0]
        start = args[1] if len(args) > 1 else SConst(0)
        if not isinstance(start, SConst):
            raise CompileError("sum start must be constant")
        if isinstance(a, SConst):
            return SConst(sum(a.value, start.value))
        if isinstance(a, STuple):
            # sum over a tuple value (e.g. dict.values()): fold with the
            # engine's Add lowering so guards/type rules apply
            acc: Sym = start
            for item in a.items:
                acc = self._binop(ast.Add(), acc, item)
            return acc
        if isinstance(a, SCol) and a.tag in ("array", "set"):
            elem = a.elem or "int"
            if elem not in _NUM_TAGS:
                raise CompileError(f"sum over {elem} elements")
            isf = elem == "float" or isinstance(start.value, float)
            zero = F.lit(float(start.value)).cast("double") if isf \
                else F.lit(int(start.value)).cast("long")
            out = F.aggregate(a.col, zero, lambda acc, x: acc + x)
            return SCol(out, "float" if isf else "int", a.nullable)
        raise CompileError(f"sum({a.tag})")

    def _array_from(self, a: Sym, ctx: str) -> Sym:
        """Coerce tuple-like / constant-list values to an array SCol."""
        if isinstance(a, SCol) and a.tag == "set":
            # list(set)/iteration exposes CPython's hash order, which
            # the distinct-array form can't reproduce — exact fallback
            raise CompileError(f"{ctx} over set (iteration order)")
        if isinstance(a, SCol) and a.tag == "array":
            return a
        if isinstance(a, SConst) and isinstance(a.value, (list, tuple)):
            return SConst(list(a.value))
        if isinstance(a, STuple):
            if any(isinstance(i, (STuple, SDict, SRow)) for i in a.items):
                raise CompileError(f"{ctx} of composite values")
            tag, elem = _unify_arms(a.items)
            return SCol(F.array(*[self._as(i, tag, elem) for i in a.items]),
                        "array", False, elem=tag)
        raise CompileError(f"{ctx}({a.tag})")

    def _set_from(self, a: Sym, ctx: str = "set") -> SCol:
        """Coerce to a set symbol: a DISTINCT array column tagged
        'set'.  CPython's iteration order is hash-based, so only
        order-free consumers accept sets (len, membership, algebra,
        relations, sorted/min/max/sum/any/all); order-leaking shapes
        (list(s), join, for-loops) refuse and fall back."""
        if isinstance(a, SCol) and a.tag == "set":
            return a
        if isinstance(a, SConst):
            if not isinstance(a.value, (set, frozenset, list, tuple,
                                        str)):
                raise CompileError(f"set({a.tag})")
            vals = list(dict.fromkeys(a.value))
            if not vals:
                raise CompileError("empty set (element type unknown)")
            a = STuple([SConst(v) for v in vals])
        if isinstance(a, SCol) and a.tag == "str":
            self._guard_nulls(a)
            # split('', '') is [''] in Spark, not [] — remove the
            # empty token (never produced for non-empty input)
            return SCol(F.array_remove(
                F.array_distinct(F.split(self.to_col(a), "")),
                ""), "set", False, elem="str")
        arr = self._array_from(a, ctx)
        self._guard_nulls(arr)
        return SCol(F.array_distinct(self.to_col(arr)), "set", False,
                    elem=arr.elem)

    def _set_binop(self, op_name: str, a: Sym, b: Sym) -> SCol:
        """union/intersection/difference/symmetric_difference of two
        set columns.  Spark's array_union/intersect/except all return
        DISTINCT elements, preserving set semantics."""
        if getattr(a, "tag", None) != "set" \
                or getattr(b, "tag", None) != "set":
            raise CompileError("set op with non-set operand")
        # 1 == 1.0 == True dedups across numeric types in CPython: the
        # elements meet on the lattice (a float meet is exact only up
        # to 2**53); other mixes raise CompileError
        _, elem = _unify_arms([a, b])
        ac, bc = self._as(a, "set", elem), self._as(b, "set", elem)
        if op_name == "symmetric_difference":
            col = F.array_union(F.array_except(ac, bc),
                                F.array_except(bc, ac))
        else:
            col = {"union": F.array_union,
                   "intersection": F.array_intersect,
                   "difference": F.array_except}[op_name](ac, bc)
        return SCol(col, "set", a.nullable or b.nullable, elem=elem)

    def _b_set(self, args):
        if not args:
            raise CompileError("empty set() (element type unknown)")
        if len(args) != 1:
            raise CompileError("set() arity")
        return self._set_from(args[0])

    def _b_frozenset(self, args):
        # immutable twin: identical lowering (mutation never compiles)
        return self._b_set(args)

    def _ev_Set(self, node):
        return self._set_from(STuple([self.eval(e) for e in node.elts]))

    def _b_dict(self, args):
        # reference SymbolTable.cc:82: dict() with no args -> empty dict
        # (same value the {} literal produces); dict-from-pairs is not
        # compiled there either
        if args:
            raise CompileError("dict(...) with arguments")
        return SDict({})

    def _b_list(self, args):
        if not args:
            raise CompileError("empty list() (element type unknown)")
        return self._array_from(args[0], "list")

    def _b_tuple(self, args):
        if not args:
            raise CompileError("empty tuple()")
        a = args[0]
        if isinstance(a, STuple):
            return a
        if isinstance(a, SConst) and isinstance(a.value, (list, tuple)):
            return STuple([SConst(v) for v in a.value])
        if isinstance(a, SRow):
            return self._row_tuple()
        raise CompileError(f"tuple({a.tag})")

    def _b_any(self, args):
        return self._any_all(args[0], is_any=True)

    def _b_all(self, args):
        return self._any_all(args[0], is_any=False)

    def _any_all(self, a: Sym, is_any: bool):
        if isinstance(a, SConst):
            return SConst((any if is_any else all)(a.value))
        if isinstance(a, STuple):
            out = None
            for i in a.items:
                c = self.truthy(i)
                out = c if out is None else ((out | c) if is_any
                                             else (out & c))
            return SCol(out if out is not None else F.lit(not is_any),
                        "bool")
        if isinstance(a, SCol) and a.tag in ("array", "set"):
            hof = F.exists if is_any else F.forall
            return SCol(hof(a.col, lambda x: self._elem_truthy(
                x, a.elem or "bool")), "bool", a.nullable)
        raise CompileError(f"{'any' if is_any else 'all'}({a.tag})")

    def _elem_truthy(self, x: Column, elem: str) -> Column:
        return self.truthy(SCol(x, elem, False))

    def _b_iter(self, args):
        # iterator state can't be modeled; only the `next(iter(x))`
        # first-element idiom compiles, so iter() passes through
        a = args[0]
        if isinstance(a, (STuple, SConst)) or \
                (isinstance(a, SCol) and a.tag == "array"):
            return _SIter(a, (self._branch_depth, self._hof_depth))
        raise CompileError(f"iter({a.tag})")

    def _b_next(self, args):
        a = args[0]
        if not isinstance(a, _SIter):
            raise CompileError("next over non-iter")
        if a.poisoned:
            raise CompileError(
                "next on an iterator advanced under a branch/HOF")
        here = (self._branch_depth, self._hof_depth)
        if here != a.created_at:
            if a.pos != 0:
                # a branch-conditioned consume after straight-line
                # consumes: CPython's position depends on whether the
                # branch ran — not statically known
                raise CompileError(
                    "next at a different depth than iter() after "
                    "prior consumes")
            a.poisoned = True
        pos = a.pos
        a.pos += 1
        base = a.base
        default = args[1] if len(args) > 1 else None
        if isinstance(base, SConst):
            seq = list(base.value)
            if pos < len(seq):
                return SConst(seq[pos])
            if default is not None:
                return default
            self.guard(F.lit(True), "StopIteration", args=[])
            return SConst(None)
        if isinstance(base, STuple):
            if pos < len(base.items):
                return base.items[pos]
            if default is not None:
                return default
            self.guard(F.lit(True), "StopIteration", args=[])
            return SConst(None)
        empty = F.size(base.col) < pos + 1
        nth = F.element_at(base.col, pos + 1)
        if default is not None:
            d = self.to_col(default)
            return SCol(F.when(empty, d).otherwise(nth),
                        base.elem or "any", True)
        self.guard(empty, "StopIteration", args=[])
        return SCol(nth, base.elem or "any", True)

    def _b_reversed(self, args):
        a = args[0]
        if isinstance(a, SConst) and isinstance(a.value, (list, tuple)):
            return SConst(list(reversed(a.value)))
        if isinstance(a, STuple):
            return STuple(list(reversed(a.items)))
        if isinstance(a, SCol) and a.tag in ("array", "str"):
            return SCol(F.reverse(a.col), a.tag, a.nullable, elem=a.elem)
        raise CompileError(f"reversed({a.tag})")

    def _b_range(self, args):
        if all(isinstance(a, SConst) for a in args):
            try:
                return SConst(list(range(*[a.value for a in args])))
            except (TypeError, ValueError) as e:
                self.guard(F.lit(True), type(e).__name__, msg=str(e))
                return SConst(None)
        if len(args) > 2:
            raise CompileError("range with dynamic step")
        nums = [self.num(a, "range") for a in args]
        lo = F.lit(0) if len(nums) == 1 else self.to_col(nums[0])
        hi = self.to_col(nums[-1])
        arr = F.when(hi > lo,
                     F.sequence(lo.cast("long"), hi.cast("long") - 1)) \
            .otherwise(F.array().cast("array<bigint>"))
        return SCol(arr, "array", False, elem="int")

    def _b_min(self, args):
        return self._minmax(args, F.least, min)

    def _b_max(self, args):
        return self._minmax(args, F.greatest, max)

    def _minmax(self, args, sf, pf):
        if len(args) == 1:
            a = args[0]
            if a.tag in ("array", "set"):
                c = self.to_col(a)
                self.guard(F.size(c) == 0, "ValueError",
                           msg=("min" if pf is min else "max")
                               + "() arg is an empty sequence")
                return SCol(F.array_min(c) if pf is min else F.array_max(c),
                            "any", True)
            if isinstance(a, STuple):
                args = a.items
            else:
                raise CompileError("min/max of non-sequence")
        if all(isinstance(x, SConst) for x in args):
            return SConst(pf(x.value for x in args))
        syms = [self.num(x, "min/max") for x in args]
        tag = "float" if any(s.tag == "float" for s in syms) else "int"
        return SCol(sf(*[self.to_col(s) for s in syms]), tag)

    # -- module calls ----------------------------------------------------
    def _call_module(self, mod, name, args):
        if mod is str and name == "maketrans":
            if not all(isinstance(a, SConst) for a in args):
                raise CompileError("maketrans args must be constant")
            try:
                return SConst(str.maketrans(*[a.value for a in args]))
            except Exception:
                raise CompileError("maketrans argument shape")
        if mod is _math:
            return self._call_math(name, args)
        if mod is _re_mod:
            return self._call_re(name, args)
        if mod is _string_mod and name == "capwords":
            s = self.to_col(args[0])
            collapsed = F.regexp_replace(
                F.regexp_replace(s, r"^\s+|\s+$", ""), r"\s+", " ")
            return SCol(F.initcap(F.lower(collapsed)), "str",
                        args[0].nullable)
        if mod is _json_mod and name == "loads" and len(args) == 1:
            return self._json_loads(args[0])
        if mod is _random_mod and name == "choice":
            a = args[0]
            if isinstance(a, SConst) and isinstance(a.value, str) \
                    and a.value:
                a = SConst(list(a.value))  # choice over a string's chars
            if isinstance(a, SConst) and isinstance(a.value, (list, tuple)):
                arr = F.array(*[F.lit(v) for v in a.value])
                idx = (F.rand() * len(a.value) + 1).cast("int")
                return SCol(F.element_at(arr, idx), _pytag(a.value[0]))
        raise CompileError(f"module call {name}")

    # -- json.loads ------------------------------------------------------

    _JSON_KEY_RE = _re_mod.compile(r"^[A-Za-z0-9_ -]+$")

    def _json_loads(self, arg: Sym) -> SJson:
        """json.loads(s) -> SJson rooted at '$'.  Guards: TypeError for
        None input, ValueError for unparseable text.  The parse is
        staged ONCE as a CSE projection column — every downstream
        consumer (typeof dispatch, int(), ==, subscripts) references the
        parsed variant instead of re-invoking parse_json per reference,
        which previously re-parsed the source text dozens of times per
        row in multi-access UDFs.  Documented
        divergence: CPython's json accepts the non-RFC literals
        NaN/Infinity/-Infinity, which Spark's parser rejects — such rows
        become ValueError rows (loud, never a silently-wrong value)."""
        if isinstance(arg, SConst):
            if not isinstance(arg.value, str):
                self.guard(F.lit(True), "TypeError")
                return SConst(None)
            arg = SCol(F.lit(arg.value), "str", False)
        if arg.tag != "str":
            raise CompileError(f"json.loads({arg.tag})")
        s = self.to_col(arg)
        parsed = F.try_parse_json(s)
        # one staged parse per distinct source expression: repeated
        # json.loads(x["props"]) calls in one UDF share the column
        if self._hof_depth == 0:
            skey = s._jc.toString()
            hit = self._json_staged.get(skey)
            if hit is None:
                hit = self._json_staged[skey] = self._stage(parsed)
            parsed = hit
        if arg.nullable:
            self.guard(s.isNull(), "TypeError")
        self.guard(s.isNotNull() & parsed.isNull(), "ValueError")
        return SJson(parsed, "$")

    def _jv_staged(self, key: str, build) -> Column:
        """Stage a per-(variant, path) subexpression as a CSE projection
        column, shared across every consumer in the UDF.  Without this,
        each kind-test / value-get re-inlines schema_of_variant(
        try_variant_get(...)) — a single int(d["k"]) UDF repeated the
        pair ~50x across its value/guard/exc-code columns, blowing the
        whole-stage-codegen method to 15,384 java bytecodes: past
        HotSpot's 8,000-bytecode JIT ceiling, so the stage silently ran
        as interpreted bytecode (caught by
        tests/test_plans.py::TestCodegenNotDemoted)."""
        if self._hof_depth > 0:
            return build()
        hit = self._json_staged.get(key)
        if hit is None:
            # build() BEFORE staging: it may stage its own dependencies
            # (typeof stages the variant-get)
            hit = self._json_staged[key] = self._stage(build())
        return hit

    def _jv_key(self, jv: SJson) -> str:
        return f"{jv.v_col._jc.toString()}|{jv.path}"

    def _jv_variant(self, jv: SJson) -> Column:
        if jv.path == "$":
            return jv.v_col
        return self._jv_staged(
            f"var:{self._jv_key(jv)}",
            lambda: F.try_variant_get(jv.v_col, jv.path, "variant"))

    def _jv_typeof(self, jv: SJson) -> Column:
        return self._jv_staged(
            f"tv:{self._jv_key(jv)}",
            lambda: F.schema_of_variant(self._jv_variant(jv)))

    def _jv_get(self, jv: SJson, t: str) -> Column:
        return self._jv_staged(
            f"get:{t}:{self._jv_key(jv)}",
            lambda: F.try_variant_get(jv.v_col, jv.path, t))

    def _jv_keys(self, jv: SJson) -> Column:
        return self._jv_staged(
            f"keys:{self._jv_key(jv)}",
            lambda: F.json_object_keys(F.to_json(self._jv_variant(jv))))

    _JV_KIND_NAMES = ("int", "float", "bigdec", "str", "bool", "void",
                      "container")

    @staticmethod
    def _jv_kinds_raw(tv: Column) -> dict[str, Column]:
        # DECIMAL(p,0) with p<=18 is long-safe int; scale>0 decimals are
        # Python floats ("1.20" parses as 1.2); DECIMAL(p>18,0) would
        # silently overflow a long -> loud guard in the consumers
        dec0_small = tv.rlike(r"^DECIMAL\((?:[1-9]|1[0-8]),0\)$")
        return {
            "int": tv.isin("BIGINT", "INT", "SMALLINT", "TINYINT")
                   | dec0_small,
            "float": tv.isin("DOUBLE", "FLOAT")
                     | (tv.startswith("DECIMAL") & ~dec0_small
                        & ~tv.rlike(r"^DECIMAL\(\d+,0\)$")),
            "bigdec": tv.rlike(r"^DECIMAL\((?:19|[2-9]\d|\d{3,}),0\)$"),
            "str": tv == "STRING",
            "bool": tv == "BOOLEAN",
            "void": tv == "VOID",
            "container": tv.startswith("OBJECT") | tv.startswith("ARRAY"),
        }

    def _jv_kinds(self, jv: SJson) -> dict[str, Column]:
        """Kind tests for the value at ``jv`` — the classification
        (5 regexes + 4 string compares over the schema string) is
        staged ONCE as a small int code, so the N consumer columns
        each test ``__tK = i`` instead of re-inlining the regex
        battery (part of the 15 KB-bytecode WSCG method that HotSpot
        refused to JIT).  The kind families are mutually exclusive by
        construction; a null schema (missing key) yields a null code,
        so every test is null — same as the raw forms."""
        def code() -> Column:
            raw = self._jv_kinds_raw(self._jv_typeof(jv))
            expr = None
            for i, nm in enumerate(self._JV_KIND_NAMES):
                expr = F.when(raw[nm], i) if expr is None \
                    else expr.when(raw[nm], i)
            return expr
        kc = self._jv_staged(f"kind:{self._jv_key(jv)}", code)
        return {nm: (kc == i)
                for i, nm in enumerate(self._JV_KIND_NAMES)}

    def _json_subscript(self, base: SJson, idx: Sym) -> SJson:
        """d["k"]: TypeError when the value at ``base`` is not an object
        (CPython: list/str/int subscripts with a str key all raise
        TypeError), KeyError when the key is absent.  A JSON-string
        value that LOOKS like an object stays a string (typeof
        dispatch), exactly as CPython."""
        if base.exists is not None:
            raise CompileError("subscript on .get() result")
        if not (isinstance(idx, SConst) and isinstance(idx.value, str)):
            raise CompileError("json subscript must be a constant str")
        if not self._JSON_KEY_RE.match(idx.value):
            raise CompileError("json key charset")
        tv = self._jv_typeof(base)
        is_obj = tv.startswith("OBJECT")
        self.guard(tv.isNotNull() & ~is_obj, "TypeError")
        keys = self._jv_keys(base)
        self.guard(F.coalesce(is_obj
                              & ~F.array_contains(keys, idx.value),
                              F.lit(False)), "KeyError",
                   args=[SConst(idx.value)])
        return SJson(base.v_col, f"{base.path}.{idx.value}")

    def _json_get(self, base: SJson, args: list[Sym]) -> SJson:
        """d.get(k[, default]): AttributeError when the value is not an
        object (CPython: .get on list/str/int), default on missing."""
        if base.exists is not None:
            raise CompileError(".get on .get() result")
        if not (1 <= len(args) <= 2):
            raise CompileError("dict.get arity")
        k = args[0]
        if not (isinstance(k, SConst) and isinstance(k.value, str)
                and self._JSON_KEY_RE.match(k.value)):
            raise CompileError("json .get key must be a constant str")
        default = None
        if len(args) == 2:
            if not isinstance(args[1], SConst):
                raise CompileError("json .get default must be constant")
            default = args[1].value
        tv = self._jv_typeof(base)
        is_obj = tv.startswith("OBJECT")
        self.guard(tv.isNotNull() & ~is_obj, "AttributeError")
        keys = self._jv_keys(base)
        exists = F.coalesce(F.array_contains(keys, k.value), F.lit(False))
        return SJson(base.v_col, f"{base.path}.{k.value}",
                     exists=exists, default=default)

    def _json_to_num(self, jv: SJson, want: str) -> Sym:
        """int(jv) / float(jv) with CPython semantics per VALUE type:
        numbers cast (toward-zero for int-of-float), booleans are 0/1,
        strings parse with CPython's grammar, null/containers raise
        TypeError.  Ints beyond int64 (JSON DECIMAL(p>18,0)) would
        silently overflow the engine's i64 model (the reference is
        i64-bound too) -> guarded RuntimeError row, loud not wrong."""
        k = self._jv_kinds(jv)
        s_raw = self._jv_get(jv, "string")
        t = F.trim(s_raw)
        if want == "int":
            str_ok = t.rlike(r"^[+-]?[0-9]+$")
            val = (F.when(k["int"], self._jv_get(jv, "bigint"))
                   .when(k["bool"],
                         self._jv_get(jv, "boolean").cast("long"))
                   .when(k["float"],
                         self._jv_get(jv, "double").cast("long"))
                   .when(k["str"] & str_ok, t.cast("long")))
            out_tag = "int"
        else:
            # CPython float(str): optional sign, decimal/exponent forms,
            # inf/infinity/nan (case-insensitive)
            str_ok = t.rlike(
                r"(?i)^[+-]?((\d+\.?\d*|\.\d+)(e[+-]?\d+)?"
                r"|inf(inity)?|nan)$")
            val = (F.when(k["int"] | k["float"],
                          self._jv_get(jv, "double"))
                   .when(k["bool"],
                         self._jv_get(jv, "boolean").cast("double"))
                   .when(k["str"] & str_ok, t.cast("double")))
            out_tag = "float"
        self.guard(F.coalesce(k["void"] | k["container"], F.lit(False)),
                   "TypeError")
        self.guard(F.coalesce(k["str"] & ~str_ok, F.lit(False)),
                   "ValueError")
        self.guard(F.coalesce(k["bigdec"], F.lit(False)), "RuntimeError")
        if jv.exists is not None:
            try:
                dval = int(jv.default) if want == "int" \
                    else float(jv.default)
            except TypeError:
                self.guard(~jv.exists, "TypeError")
                return SCol(F.when(jv.exists, val), out_tag, True)
            except ValueError:
                self.guard(~jv.exists, "ValueError")
                return SCol(F.when(jv.exists, val), out_tag, True)
            val = F.when(jv.exists, val).otherwise(F.lit(dval))
        return SCol(val, out_tag, True)

    def _json_eq(self, jv: SJson, const: SConst) -> Column:
        """jv == constant, CPython equality: type families must match
        (3 == "3" is False), bools are ints (True == 1), JSON null only
        equals None.  Never raises."""
        k = self._jv_kinds(jv)
        v = const.value
        if v is None:
            eq = k["void"]
        elif isinstance(v, str):
            eq = k["str"] & (self._jv_get(jv, "string") == F.lit(v))
        elif isinstance(v, (bool, int, float)):
            if isinstance(v, (bool, int)):
                iv, fv, integral = int(v), float(int(v)), True
            else:
                integral = v == v and v not in (float("inf"),
                                                float("-inf")) \
                    and v == int(v)
                iv, fv = (int(v) if integral else 0), v
            int_eq = (self._jv_get(jv, "bigint") == F.lit(iv)) \
                if integral else F.lit(False)
            eq = ((k["int"] & int_eq)
                  | (k["float"] & (self._jv_get(jv, "double")
                                   == F.lit(fv)))
                  | (k["bool"] & (self._jv_get(jv, "boolean")
                                  .cast("double") == F.lit(fv))))
        else:
            raise CompileError("json == non-scalar constant")
        eq = F.coalesce(eq, F.lit(False))
        if jv.exists is not None:
            try:
                deq = bool(jv.default == v)
            except Exception:
                raise CompileError("json .get default equality")
            eq = F.when(jv.exists, eq).otherwise(F.lit(deq))
        return eq

    def _json_len(self, jv: SJson) -> Sym:
        """len(jv): chars for strings, elements for arrays, keys for
        objects; numbers/bools/null raise TypeError (CPython)."""
        tv = self._jv_typeof(jv)
        k = self._jv_kinds(jv)
        val = (F.when(k["str"], F.length(self._jv_get(jv, "string")))
               .when(tv.startswith("ARRAY"),
                     F.size(self._jv_get(jv, "array<variant>")))
               .when(tv.startswith("OBJECT"),
                     F.size(self._jv_keys(jv)))).cast("long")
        bad = k["int"] | k["float"] | k["bool"] | k["void"] | k["bigdec"]
        self.guard(F.coalesce(bad, F.lit(False)), "TypeError")
        if jv.exists is not None:
            try:
                dlen = len(jv.default)
            except TypeError:
                self.guard(~jv.exists, "TypeError")
                return SCol(F.when(jv.exists, val), "int", True)
            val = F.when(jv.exists, val).otherwise(F.lit(dlen))
        return SCol(val, "int", True)

    def _json_truthy(self, jv: SJson) -> Column:
        """CPython truthiness per value type — never raises."""
        tv = self._jv_typeof(jv)
        k = self._jv_kinds(jv)
        t = (F.when(k["void"], F.lit(False))
             .when(k["bool"], self._jv_get(jv, "boolean"))
             .when(k["int"], self._jv_get(jv, "bigint") != 0)
             .when(k["float"], self._jv_get(jv, "double") != 0.0)
             .when(k["bigdec"], F.lit(True))  # 0 is BIGINT, never DECIMAL
             .when(k["str"],
                   F.length(self._jv_get(jv, "string")) > 0)
             .when(tv.startswith("ARRAY"),
                   F.size(self._jv_get(jv, "array<variant>")) > 0)
             .when(tv.startswith("OBJECT"),
                   F.size(self._jv_keys(jv)) > 0))
        t = F.coalesce(t, F.lit(False))
        if jv.exists is not None:
            t = F.when(jv.exists, t).otherwise(F.lit(bool(jv.default)))
        return t

    def _json_membership(self, item: Sym, jv: SJson) -> Column:
        """``x in jv``: substring for strings, key test for objects,
        per-element typed equality for arrays (a string item only
        matches STRING elements — "1" is not in [1]); numbers/null
        raise TypeError like CPython."""
        if jv.exists is not None:
            raise CompileError("membership in .get() result")
        if not (item.tag == "str" or (isinstance(item, SConst)
                                      and isinstance(item.value, str))):
            raise CompileError("json membership item must be str")
        item_c = self.to_col(item)
        tv = self._jv_typeof(jv)
        k = self._jv_kinds(jv)
        arr = self._jv_get(jv, "array<variant>")
        res = (F.when(k["str"],
                      F.contains(self._jv_get(jv, "string"), item_c))
               .when(tv.startswith("OBJECT"),
                     F.array_contains(self._jv_keys(jv), item_c))
               .when(tv.startswith("ARRAY"),
                     F.exists(arr, lambda e:
                              (F.schema_of_variant(e) == "STRING")
                              & (F.try_variant_get(e, "$", "string")
                                 == item_c))))
        bad = k["int"] | k["float"] | k["bool"] | k["void"] | k["bigdec"]
        self.guard(F.coalesce(bad, F.lit(False)), "TypeError")
        return F.coalesce(res, F.lit(False))

    def _call_math(self, name, args):
        if all(isinstance(a, SConst) for a in args) and hasattr(_math, name):
            try:
                return SConst(getattr(_math, name)(*[a.value for a in args]))
            except Exception as e:
                self.guard(F.lit(True), type(e).__name__, msg=str(e))
                return SConst(None)
        simple = {"sin": F.sin, "cos": F.cos, "tan": F.tan, "atan": F.atan,
                  "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
                  "exp": F.exp, "expm1": F.expm1, "radians": F.radians,
                  "degrees": F.degrees, "cbrt": F.cbrt, "fabs": F.abs,
                  "asinh": F.asinh}
        a = self.num(args[0], f"math.{name}") if args else None
        c = self.to_col(a) if a is not None else None
        if name in simple:
            return SCol(simple[name](c), "float")
        if name == "sqrt":
            self.guard(c < 0, "ValueError",
                       msg="math domain error")
            return SCol(F.sqrt(c), "float")
        if name in ("log", "log2", "log10"):
            self.guard(c <= 0, "ValueError",
                       msg="math domain error")
            f = {"log": F.log, "log2": F.log2, "log10": F.log10}[name]
            if name == "log" and len(args) == 2:
                b = self.to_col(self.num(args[1]))
                return SCol(F.log(c) / F.log(b), "float")
            return SCol(f(c), "float")
        if name == "log1p":
            self.guard(c <= -1, "ValueError",
                       msg="math domain error")
            return SCol(F.log1p(c), "float")
        if name in ("asin", "acos"):
            self.guard((c < -1) | (c > 1), "ValueError",
                       msg="math domain error")
            return SCol((F.asin if name == "asin" else F.acos)(c), "float")
        if name == "acosh":
            self.guard(c < 1, "ValueError",
                       msg="math domain error")
            return SCol(F.acosh(c), "float")
        if name == "atanh":
            self.guard((c <= -1) | (c >= 1), "ValueError",
                       msg="math domain error")
            return SCol(F.atanh(c), "float")
        if name == "floor":
            return SCol(F.floor(c).cast("long"), "int")
        if name == "ceil":
            return SCol(F.ceil(c).cast("long"), "int")
        if name == "pow":
            b = self.to_col(self.num(args[1]))
            # CPython domain/range semantics C pow lacks:
            #   pow(0, negative finite)          -> ValueError
            #   pow(negative, finite non-integer) -> ValueError
            #   finite args, infinite result      -> OverflowError
            # (pow(0.0, -inf) = inf and pow(-2, inf) = inf stay legal)
            def _fin(x):
                return ~F.isnan(x) & (x != float("inf")) \
                    & (x != float("-inf"))
            self.guard((c == 0.0) & (b < 0) & _fin(b), "ValueError")
            self.guard((c < 0) & _fin(c) & _fin(b) & (b != F.floor(b)),
                       "ValueError")
            res = F.pow(c, b)
            self.guard(_fin(c) & _fin(b)
                       & ((res == float("inf")) | (res == float("-inf"))),
                       "OverflowError")
            return SCol(res, "float")
        if name == "atan2":
            b = self.to_col(self.num(args[1]))
            return SCol(F.atan2(c, b), "float")
        if name == "hypot":
            b = self.to_col(self.num(args[1]))
            return SCol(F.hypot(c, b), "float")
        if name == "trunc":
            # CPython truncates toward zero; double->long cast matches
            return SCol(c.cast("long"), "int")
        if name == "copysign":
            b = self.to_col(self.num(args[1])).cast("double")
            # sign of b incl. -0.0: 1.0/-0.0 == -inf (doubles are IEEE)
            neg = (b < 0) | ((b == 0.0) & (F.lit(1.0) / b < 0))
            return SCol(F.when(neg, -F.abs(c)).otherwise(F.abs(c))
                        .cast("double"), "float")
        if name == "fmod":
            b = self.to_col(self.num(args[1])).cast("double")
            self.guard(b == 0.0, "ValueError")
            # C fmod: result sign follows the dividend — same as Spark %
            return SCol(c.cast("double") % b, "float")
        if name == "isnan":
            return SCol(F.isnan(c), "bool")
        if name == "isinf":
            return SCol(F.abs(c) == float("inf"), "bool")
        if name == "isclose":
            b = self.to_col(self.num(args[1]))
            # CPython Modules/mathmodule.c: equal values (incl. the same
            # infinity) are close; differing infinities are NOT (the
            # naive |a-b| formula inverts both: inf-inf is NaN and
            # inf - -inf <= rel*inf holds)
            inf = float("inf")
            close = (F.abs(c - b) <= F.greatest(
                F.lit(1e-09) * F.greatest(F.abs(c), F.abs(b)), F.lit(0.0)))
            return SCol(F.when(c == b, F.lit(True))
                         .otherwise((F.abs(c) != inf) & (F.abs(b) != inf)
                                    & close), "bool")
        raise CompileError(f"math.{name}")

    # flags compilable as Java inline modifiers; (?u) rides along with
    # (?i) so case-insensitivity is Unicode-aware like CPython's
    _RE_FLAG_PREFIX = [(_re_mod.IGNORECASE, "iu"), (_re_mod.DOTALL, "s"),
                       (_re_mod.MULTILINE, "m")]

    def _re_flags_prefix(self, flags_sym) -> str:
        if not (isinstance(flags_sym, SConst)
                and isinstance(flags_sym.value, int)):
            raise CompileError("re flags must be a constant int")
        fl = flags_sym.value
        letters = ""
        for bit, js in self._RE_FLAG_PREFIX:
            if fl & bit:
                letters += js
                fl &= ~bit
        if fl:
            raise CompileError(f"re flags {fl:#x} not compilable")
        return f"(?{letters})" if letters else ""

    def _call_re(self, name, args):
        if name in ("search", "match", "fullmatch") and 2 <= len(args) <= 3:
            pat, subj = args[0], args[1]
            if not (isinstance(pat, SConst) and isinstance(pat.value, str)):
                raise CompileError("re pattern must be constant")
            p = pat.value
            if len(args) > 2:
                # previously the flags argument was silently IGNORED —
                # re.search(p, s, re.IGNORECASE) matched case-sensitively
                p = self._re_flags_prefix(args[2]) + p
            if name == "match":
                p = f"^(?:{p})"
            elif name == "fullmatch":
                p = f"^(?:{p})$"
            return SMatch(subj, p, self)
        if name == "sub" and len(args) in (3, 4):
            pat, repl, subj = args[0], args[1], args[2]
            if not all(isinstance(x, SConst) for x in (pat, repl)):
                raise CompileError("re.sub needs constant pattern/replacement")
            toks = _parse_py_repl_template(repl.value)
            ngroups = _re_mod.compile(pat.value).groups
            if any(t == "grp" and not 0 < v <= ngroups for t, v in toks):
                raise CompileError("re.sub repl references missing group")
            if len(args) == 4:
                # count-limited sub == split with limit count+1 joined
                # on the replacement (the last part keeps the remaining
                # matches).  Split drops the matched text, so the
                # replacement may not backreference groups, and a
                # pattern whose MINIMUM match width is 0 can match empty
                # IN CONTEXT (x*, a?, lookarounds like (?<=a)) where
                # Java split's zero-width insertion points diverge from
                # CPython's — checking re.search(pat, "") missed the
                # context-only cases, so use the parsed min width.
                cnt = args[3]
                if not (isinstance(cnt, SConst)
                        and isinstance(cnt.value, int)):
                    raise CompileError("re.sub count must be constant")
                if any(t == "grp" for t, _ in toks):
                    raise CompileError("re.sub count with backreferences")
                if _pattern_min_width(pat.value) == 0:
                    raise CompileError("re.sub count with nullable pattern")
                if cnt.value == 0:
                    pass  # replace all — same as the 3-arg form below
                elif cnt.value < 0:
                    # CPython: negative count replaces NOTHING (unlike
                    # str.replace, where negative means all)
                    return SCol(self.to_col(subj), "str", subj.nullable)
                else:
                    # array_join inserts LITERALLY: use the template
                    # with CPython escapes already expanded (\\ -> \,
                    # \n -> newline), never the raw source text
                    lit = "".join(v for t, v in toks if t == "lit")
                    return SCol(
                        F.array_join(
                            F.split(self.to_col(subj), pat.value,
                                    cnt.value + 1),
                            lit),
                        "str", subj.nullable)
            # Java replacement template: group refs are $n, and literal
            # '\' / '$' must be Java-escaped — passing Python source
            # text through turned \n into a literal 'n' and a literal $
            # into a group reference
            parts = []
            for t, v in toks:
                if t == "grp":
                    parts.append(f"${v}")
                else:
                    parts.append(v.replace("\\", "\\\\")
                                  .replace("$", "\\$"))
            return SCol(F.regexp_replace(self.to_col(subj), pat.value,
                                         "".join(parts)),
                        "str", subj.nullable)
        raise CompileError(f"re.{name}/{len(args)}")

    _STRFTIME = {"%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH",
                 "%M": "mm", "%S": "ss", "%y": "yy", "%j": "DDD"}

    # -- method calls ----------------------------------------------------
    def _call_method(self, base: Sym, name: str, args: list[Sym]) -> Sym:
        if isinstance(base, SMatch):
            return self._match_method(base, name, args)
        if isinstance(base, SCol) and base.tag == "set":
            if name in ("union", "intersection", "difference",
                        "symmetric_difference") and len(args) == 1:
                return self._set_binop(name, base,
                                       self._set_from(args[0]))
            if name in ("issubset", "issuperset", "isdisjoint") \
                    and len(args) == 1:
                other = self._set_from(args[0])
                if name == "issubset":
                    d = self._set_binop("difference", base, other)
                elif name == "issuperset":
                    d = self._set_binop("difference", other, base)
                else:
                    d = self._set_binop("intersection", base, other)
                return SCol(F.size(d.col) == 0, "bool")
            if name == "copy" and not args:
                return base
            # add/discard/pop mutate; iteration order never modeled
            raise CompileError(f"set method {name}")
        if isinstance(base, SJson):
            if name == "get":
                return self._json_get(base, args)
            raise CompileError(f"json value method {name}")
        if isinstance(base, SCol) and base.tag in ("timestamp", "date"):
            if name == "weekday" and not args:
                # CPython Monday=0; Spark dayofweek Sunday=1
                return SCol(((F.dayofweek(base.col) + 5) % 7).cast("long"),
                            "int", base.nullable)
            if name == "isoweekday" and not args:
                return SCol(((F.dayofweek(base.col) + 5) % 7 + 1)
                            .cast("long"), "int", base.nullable)
            if name == "strftime" and len(args) == 1 \
                    and isinstance(args[0], SConst):
                fmt = args[0].value
                # literal runs are emitted inside '...' quoting with
                # ' escaped as '' — bare non-alpha literals are NOT
                # safe in DateTimeFormatter patterns (' opens a quote,
                # [ ] are optional-section markers, # { } reserved)
                out, i, lit = "", 0, ""

                def _flush(lit):
                    return "'" + lit.replace("'", "''") + "'" if lit \
                        else ""
                while i < len(fmt):
                    if fmt[i] == "%":
                        d = fmt[i:i + 2]
                        if d == "%%":
                            lit += "%"
                            i += 2
                            continue
                        if d not in self._STRFTIME:
                            raise CompileError(f"strftime directive {d}")
                        out += _flush(lit) + self._STRFTIME[d]
                        lit = ""
                        i += 2
                    else:
                        lit += fmt[i]
                        i += 1
                out += _flush(lit)
                return SCol(F.date_format(base.col, out), "str",
                            base.nullable)
            raise CompileError(f"datetime method {name}")
        if isinstance(base, SConst) and all(isinstance(a, SConst)
                                            for a in args):
            try:
                return SConst(getattr(base.value, name)(
                    *[a.value for a in args]))
            except Exception as e:
                self.guard(F.lit(True), type(e).__name__, msg=str(e))
                return SConst(None)
        if base.tag == "str" or (isinstance(base, SConst)
                                 and isinstance(base.value, str)):
            return self._str_method(base, name, args)
        if base.tag in ("array", "map"):  # None.get(...)
            base = self._deref(base, "AttributeError")
        if base.tag == "array":
            return self._list_method(base, name, args)
        if base.tag == "map" or isinstance(base, SDict):
            return self._dict_method(base, name, args)
        raise CompileError(f"method .{name} on {base.tag}")

    def _match_method(self, m: SMatch, name, args):
        subj = self.to_col(m.subject)
        if name == "group":
            g = args[0].value if args else 0
            self.guard(~self.truthy(m), "AttributeError")
            return SCol(F.regexp_extract(subj, m.pattern, g), "str", True)
        if name == "groups":
            # regexp_extract yields '' for a non-participating group where
            # CPython yields None — only compile patterns whose groups
            # always participate (no optional/alternated groups)
            if _re_mod.search(r"\)[*?]|\|", m.pattern):
                raise CompileError(
                    "match.groups with optional/alternated groups")
            n = _re_mod.compile(m.pattern).groups
            self.guard(~self.truthy(m), "AttributeError")
            return STuple([
                SCol(F.regexp_extract(subj, m.pattern, i + 1), "str", True)
                for i in range(n)])
        if name in ("span", "start", "end"):
            if args:
                raise CompileError(f"match.{name} with group argument")
            self.guard(~self.truthy(m), "AttributeError")
            start = (F.regexp_instr(subj, F.lit(m.pattern)) - 1) \
                .cast("long")
            end = start + F.length(
                F.regexp_extract(subj, m.pattern, 0)).cast("long")
            if name == "span":
                return STuple([SCol(start, "int", True),
                               SCol(end, "int", True)])
            return SCol(start if name == "start" else end, "int", True)
        raise CompileError(f"match.{name}")

    def _bounds_window(self, c: Column, args: list[Sym], i0: int):
        """CPython slice-notation (start[, end]) bounds for str methods
        (find/count/startswith/...): returns (windowed substring
        s[start:end], normalized start lo, sign-adjusted-but-unclamped
        start).  Bounds may be dynamic ints; None behaves like the
        omitted bound."""
        L = F.length(c)

        def pick(i):
            s = args[i] if len(args) > i else None
            if isinstance(s, SConst) and s.value is None:
                s = None
            return s

        def adj(sym, default):
            if sym is None:
                return default, default
            v = self.to_col(self.num(sym, "slice bound")).cast("int")
            a = F.when(v < 0, L + v).otherwise(v)
            return a, F.greatest(F.least(a, L), F.lit(0))

        start, end = pick(i0), pick(i0 + 1)
        adj_start, lo = adj(start, F.lit(0))
        _, hi = adj(end, L)
        length = F.greatest(hi - lo, F.lit(0))
        win = F.substring(c, (lo + 1).cast("int"), length.cast("int"))
        return win, lo, adj_start

    def _str_method(self, base: Sym, name: str, args: list[Sym]) -> Sym:
        base = self._deref(base, "AttributeError")
        c = self.to_col(base)
        nullable = base.nullable

        def const_arg(i, types=(str,)):
            if i >= len(args) or not isinstance(args[i], SConst) \
                    or not isinstance(args[i].value, types):
                raise CompileError(f"str.{name} arg {i} must be constant")
            return args[i].value

        if name == "lower":
            return SCol(F.lower(c), "str", nullable)
        if name == "upper":
            return SCol(F.upper(c), "str", nullable)
        if name == "capitalize":
            return SCol(F.concat(F.upper(F.substring(c, 1, 1)),
                                 F.lower(F.substring(c, 2, 2 ** 30))),
                        "str", nullable)
        if name in ("strip", "lstrip", "rstrip"):
            if args:
                chars = _re_mod.escape(const_arg(0))
                pats = {"strip": f"^[{chars}]+|[{chars}]+$",
                        "lstrip": f"^[{chars}]+", "rstrip": f"[{chars}]+$"}
            else:
                pats = {"strip": r"^\s+|\s+$", "lstrip": r"^\s+",
                        "rstrip": r"\s+$"}
            return SCol(F.regexp_replace(c, pats[name], ""), "str", nullable)
        if name == "replace":
            old, new = const_arg(0), const_arg(1)
            if old == "":
                # CPython interleaves `new` between characters; no Spark
                # analog — fallback
                raise CompileError("replace with empty search string")
            if len(args) > 2:
                cnt = args[2]
                if not (isinstance(cnt, SConst)
                        and isinstance(cnt.value, int)):
                    raise CompileError("replace count must be constant")
                if cnt.value == 0:
                    return SCol(c, "str", nullable)
                if cnt.value > 0:
                    # count-limited replace == split with limit count+1
                    # (the last part keeps the remaining occurrences)
                    # re-joined on `new` — bounded, single expression
                    return SCol(
                        F.array_join(
                            F.split(c, _re_mod.escape(old), cnt.value + 1),
                            new),
                        "str", nullable)
                # negative count = replace all, same as the 2-arg form
            return SCol(F.replace(c, F.lit(old), F.lit(new)), "str", nullable)
        if name == "translate":
            # s.translate(str.maketrans(...)): 1-char-to-1-char (and
            # deletion) tables map exactly onto F.translate — chars in
            # `matching` beyond len(replace) are removed, so deletions
            # order last.  Multi-char replacements fall back.
            t = args[0]
            if not (isinstance(t, SConst) and isinstance(t.value, dict)):
                raise CompileError("translate table must be constant")
            kept, deleted = [], []
            for k, v in t.value.items():
                if not isinstance(k, int):
                    raise CompileError("translate key shape")
                if v is None:
                    deleted.append(chr(k))
                elif isinstance(v, int):
                    kept.append((chr(k), chr(v)))
                elif isinstance(v, str) and len(v) == 1:
                    kept.append((chr(k), v))
                else:
                    raise CompileError("translate multi-char replacement")
            matching = "".join(k for k, _ in kept) + "".join(deleted)
            replace = "".join(v for _, v in kept)
            return SCol(F.translate(c, matching, replace), "str", nullable)
        if name == "split":
            if args and not (isinstance(args[0], SConst)
                             and args[0].value is None):
                sep = const_arg(0)
                if sep == "":
                    self.guard(F.lit(True), "ValueError")  # CPython raises
                    return SCol(F.array().cast("array<string>"), "array",
                                nullable, elem="str")
                limit = -1
                if len(args) > 1:
                    ms = args[1]
                    if not (isinstance(ms, SConst)
                            and isinstance(ms.value, int)):
                        raise CompileError("split maxsplit must be constant")
                    # CPython maxsplit=m -> at most m splits = m+1 parts;
                    # Spark limit=n -> at most n parts
                    limit = -1 if ms.value < 0 else ms.value + 1
                return SCol(F.split(c, _re_mod.escape(sep), limit), "array",
                            nullable, elem="str")
            if len(args) > 1:
                raise CompileError("whitespace split with maxsplit")
            t = F.regexp_replace(c, r"^\s+|\s+$", "")
            return SCol(F.when(F.length(t) == 0,
                               F.array().cast("array<string>"))
                        .otherwise(F.split(t, r"\s+")), "array", nullable,
                        elem="str")
        if name in ("startswith", "endswith"):
            f = F.startswith if name == "startswith" else F.endswith
            a0 = args[0]
            if len(args) > 1:
                # CPython slice-notation bounds: compare inside
                # s[start:end]; one extra rule — a start past the end
                # of the string is False even for an empty needle
                # ('ab'.startswith('', 3) is False), which the window
                # alone cannot express
                win, _, adj_start = self._bounds_window(c, args, 1)
                if not (isinstance(a0, SConst)
                        and isinstance(a0.value, str)):
                    raise CompileError(f"{name} bounds need a constant "
                                       "needle")
                expr = f(win, F.lit(a0.value)) \
                    & (adj_start <= F.length(c))
                return SCol(expr, "bool", nullable)
            prefixes = None
            if isinstance(a0, SConst) and isinstance(a0.value, tuple):
                prefixes = list(a0.value)
            elif isinstance(a0, STuple):
                if not all(isinstance(i, SConst) for i in a0.items):
                    raise CompileError(f"{name} tuple must be constant")
                prefixes = [i.value for i in a0.items]
            if prefixes is not None:
                # CPython accepts a tuple of prefixes: OR over members
                # (the bare struct previously hit an AnalysisException —
                # a hard error, not even a fallback)
                if not all(isinstance(p, str) for p in prefixes):
                    raise CompileError(f"{name} tuple of non-str")
                if not prefixes:
                    return SCol(F.lit(False), "bool", False)
                expr = f(c, F.lit(prefixes[0]))
                for p in prefixes[1:]:
                    expr = expr | f(c, F.lit(p))
                return SCol(expr, "bool", nullable)
            return SCol(f(c, self.to_col(a0)), "bool", nullable)
        if name in ("find", "index"):
            if not isinstance(args[0], SConst):
                raise CompileError("find needle must be constant")
            sub = args[0].value
            if len(args) > 1:
                # slice-notation bounds: search inside s[start:end] and
                # re-base the hit position by the normalized start (an
                # empty needle interacts with out-of-range starts in
                # ways the window can't express — fallback)
                if sub == "":
                    raise CompileError("find bounds with empty needle")
                win, lo, _ = self._bounds_window(c, args, 1)
                loc0 = F.instr(win, sub)
                loc = F.when(loc0 == 0, F.lit(0)).otherwise(loc0 + lo)
            else:
                loc = F.instr(c, sub)
            res = loc - 1
            if name == "index":
                self.guard(loc == 0, "ValueError",
                           msg="substring not found")
                return SCol(res.cast("long"), "int", nullable)
            return SCol(F.when(loc == 0, -1).otherwise(res).cast("long"),
                        "int", nullable)
        if name in ("rfind", "rindex"):
            sub = const_arg(0)
            tgt, lo = c, F.lit(0)
            if len(args) > 1:
                if sub == "":
                    raise CompileError(f"{name} bounds with empty needle")
                tgt, lo, _ = self._bounds_window(c, args, 1)
            L, m = F.length(tgt), len(sub)
            lr = F.instr(F.reverse(tgt), sub[::-1])
            res = L - lr + 1 - m + lo
            if name == "rindex":
                self.guard(lr == 0, "ValueError")
                return SCol(res.cast("long"), "int", nullable)
            return SCol(F.when(lr == 0, -1).otherwise(res).cast("long"),
                        "int", nullable)
        if name == "count":
            sub = const_arg(0)
            tgt = c
            if len(args) > 1:
                if sub == "":
                    raise CompileError("count bounds with empty needle")
                tgt, _, _ = self._bounds_window(c, args, 1)
            if not sub:
                return SCol((F.length(tgt) + 1).cast("long"), "int",
                            nullable)
            diff = F.length(tgt) \
                - F.length(F.replace(tgt, F.lit(sub), F.lit("")))
            return SCol((diff / len(sub)).cast("long"), "int", nullable)
        if name == "join":
            a = args[0]
            sep = base.value if isinstance(base, SConst) else None
            if sep is None:
                raise CompileError("join separator must be constant")
            if isinstance(a, STuple):
                return SCol(F.concat_ws(sep, *[self.to_col(i)
                                               for i in a.items]), "str")
            if a.tag == "array":
                return SCol(F.array_join(self.to_col(a), sep), "str",
                            a.nullable)
            if a.tag == "str":
                # CPython iterates the string's characters
                # (''.join(reversed(s)), '-'.join(s))
                ac = self.to_col(a)
                if sep == "":
                    return SCol(ac, "str", a.nullable)
                return SCol(F.array_join(F.split(ac, ""), sep), "str",
                            a.nullable)
            raise CompileError("join arg")
        if name == "format":
            if not isinstance(base, SConst):
                raise CompileError("format pattern must be constant")
            pat = base.value
            if "{{" in pat or "}}" in pat:
                raise CompileError("format brace escapes")
            toks = _re_mod.findall(r"\{([^{}]*)\}", pat)
            fields = []
            for t in toks:
                idx, _, spec = t.partition(":")
                if idx and not idx.isdigit():
                    raise CompileError("format field name")
                fields.append((idx, spec if ":" in t else None))
            if any(i for i, _ in fields) and not all(i for i, _ in fields):
                # CPython raises ValueError for mixed auto/manual
                # numbering on every row
                self.guard(F.lit(True), "ValueError")
                return SConst(None)
            if fields and all(i for i, _ in fields):
                # explicit indices: reorder/duplicate the args per token
                # (previously '{1}:{0}' formatted in positional order
                # and '{0}{0}' crashed format_string at runtime)
                if max(int(i) for i, _ in fields) >= len(args):
                    self.guard(F.lit(True), "IndexError")
                    return SConst(None)
                vals = [args[int(i)] for i, _ in fields]
            else:
                if len(fields) > len(args):
                    self.guard(F.lit(True), "IndexError")
                    return SConst(None)
                # surplus args are legal in CPython; format_string is
                # strict, so pass exactly the consumed prefix
                vals = list(args[:len(fields)])
            # literal '%' must be escaped for format_string (java
            # Formatter) — '{:.1f}%'.format(x) previously emitted a
            # trailing bare '%' and threw UnknownFormatConversionException
            # at action time; each whole replacement token ('%' in its
            # spec included) becomes one '%s'
            fmt = _re_mod.sub(r"\{[^{}]*\}", "%s", pat.replace("%", "%%"))
            cols = [self._to_str(v) if spec is None
                    else self._format_spec(spec, v)
                    for (_, spec), v in zip(fields, vals)]
            return SCol(F.format_string(fmt, *cols), "str")
        if name in ("isdigit", "isdecimal"):
            return SCol(c.rlike("^[0-9]+$"), "bool", nullable)
        if name == "isalpha":
            return SCol(c.rlike("^[A-Za-z]+$"), "bool", nullable)
        if name == "isalnum":
            return SCol(c.rlike("^[A-Za-z0-9]+$"), "bool", nullable)
        if name == "isspace":
            return SCol(c.rlike(r"^\s+$"), "bool", nullable)
        if name == "islower":
            return SCol(c.rlike("[a-z]") & ~c.rlike("[A-Z]"), "bool", nullable)
        if name == "isupper":
            return SCol(c.rlike("[A-Z]") & ~c.rlike("[a-z]"), "bool", nullable)
        if name == "zfill":
            w = const_arg(0, (int,))
            has_sign = c.rlike(r"^[+-]")
            body = F.when(has_sign, F.substring(c, 2, 2 ** 30)).otherwise(c)
            sign = F.when(has_sign, F.substring(c, 1, 1)).otherwise(F.lit(""))
            padded = F.concat(
                sign, F.when(has_sign, F.lpad(body, w - 1, "0"))
                       .otherwise(F.lpad(body, w, "0")))
            return SCol(F.when(F.length(c) >= w, c).otherwise(padded),
                        "str", nullable)
        if name == "center":
            w = const_arg(0, (int,))
            fill = const_arg(1) if len(args) > 1 else " "
            left = (F.lit(w) - F.length(c)) / 2
            padded = F.rpad(F.lpad(c, (F.length(c) +
                            F.floor(left)).cast("int"), fill), w, fill)
            # CPython never truncates; lpad/rpad do
            return SCol(F.when(F.length(c) >= w, c).otherwise(padded),
                        "str", nullable)
        if name == "title":
            # CPython semantics (NOT initcap, which only capitalizes
            # after whitespace): a CASED char (Lu/Ll/Lt) is uppercased
            # when the previous char is uncased ('x,y' -> 'X,Y',
            # 'abc1def' -> 'Abc1Def'), lowercased otherwise; uncased
            # chars pass through.  Linear: char array zipped with its
            # 1-shifted self.  Known Unicode edges (vanishingly rare,
            # ASCII-exact): chars whose titlecase is a distinct Lt
            # ('dz' ligatures) and expanding maps (upper('ss' sharp-s))
            # use upper() instead of CPython's titlecase table.
            cased = r"[\p{Lu}\p{Ll}\p{Lt}]"
            arr = F.split(c, "")
            prev = F.when(F.size(arr) <= 1, F.array(F.lit(""))) \
                .otherwise(F.concat(F.array(F.lit("")),
                                    F.slice(arr, 1, F.size(arr) - 1)))
            titled = F.zip_with(
                arr, prev,
                lambda ch, pv: F.when(
                    ch.rlike(cased),
                    F.when(pv.rlike(cased), F.lower(ch))
                     .otherwise(F.upper(ch))).otherwise(ch))
            return SCol(F.concat_ws("", titled), "str", nullable)
        if name == "casefold" and not args:
            # full Unicode case folding from the STATIC table (Python's
            # own str.casefold enumerated at compile time, cached as
            # module state): ~100 expanding chars (ss for sharp-s,
            # ligatures) as literal replaces, then one translate for
            # the ~1300 1:1 folds.  Folded chars are fixpoints, so the
            # translate never touches a replace's output.  lower()
            # alone diverged on exactly these chars — found by fuzzing;
            # the reference compiles no casefold at all
            # (SymbolTable.cc:366-419).
            multi, tr_from, tr_to = _casefold_tables()
            out = c
            for s_ch, repl in multi:
                out = F.replace(out, F.lit(s_ch), F.lit(repl))
            return SCol(F.translate(out, tr_from, tr_to), "str", nullable)
        if name == "swapcase":
            # per-char Unicode flip (an ASCII translate() left 'é'
            # unchanged); lowercase -> upper, upper/titlecase -> lower,
            # uncased through.  upper('ß') = 'SS' matches CPython's
            # expanding swapcase.
            sw = F.transform(
                F.split(c, ""),
                lambda ch: F.when(ch.rlike(r"[\p{Ll}]"), F.upper(ch))
                            .otherwise(
                    F.when(ch.rlike(r"[\p{Lu}\p{Lt}]"), F.lower(ch))
                     .otherwise(ch)))
            return SCol(F.concat_ws("", sw), "str", nullable)
        if name in ("partition", "rpartition"):
            sep = const_arg(0)
            if not sep:
                self.guard(F.lit(True), "ValueError")
            loc = F.instr(c, sep) if name == "partition" else \
                (F.length(c) - F.instr(F.reverse(c), sep[::-1])
                 - len(sep) + 2)
            found = (F.instr(c, sep) > 0) if name == "partition" else \
                (F.instr(F.reverse(c), sep[::-1]) > 0)
            before = F.when(found, F.substring(c, 1, (loc - 1).cast("int"))) \
                .otherwise(c if name == "partition" else F.lit(""))
            mid = F.when(found, F.lit(sep)).otherwise(F.lit(""))
            after = F.when(found, F.substring(
                c, (loc + len(sep)).cast("int"), 2 ** 30)) \
                .otherwise(F.lit("") if name == "partition" else c)
            return STuple([SCol(before, "str", nullable),
                           SCol(mid, "str", nullable),
                           SCol(after, "str", nullable)])
        if name in ("ljust", "rjust"):
            w = const_arg(0, (int,))
            fill = const_arg(1) if len(args) > 1 else " "
            pad = F.rpad if name == "ljust" else F.lpad
            # CPython never truncates; lpad/rpad do — guard with length
            return SCol(F.when(F.length(c) >= w, c)
                        .otherwise(pad(c, w, fill)), "str", nullable)
        if name in ("removeprefix", "removesuffix"):
            p = const_arg(0)
            if name == "removeprefix":
                hit = F.startswith(c, F.lit(p))
                cut = F.substring(c, len(p) + 1, 2 ** 30)
            else:
                hit = F.endswith(c, F.lit(p))
                cut = F.when(F.length(c) == len(p), F.lit("")).otherwise(
                    F.substring(c, 1, F.length(c) - len(p)))
            return SCol(F.when(hit, cut).otherwise(c), "str", nullable)
        if name == "splitlines":
            # CPython: '' -> []; trailing newline yields no empty element
            t = F.regexp_replace(c, r"(\r\n|\r|\n)$", "")
            return SCol(F.when(F.length(t) == 0,
                               F.array().cast("array<string>"))
                        .otherwise(F.split(t, r"\r\n|\r|\n")),
                        "array", nullable, elem="str")
        raise CompileError(f"str.{name}")

    def _list_method(self, base, name, args):
        c = self.to_col(base)
        if name == "index":
            v = self.to_col(args[0])
            pos = F.array_position(c, v)
            try:
                imsg = F.concat(self._repr_col(args[0]),
                                F.lit(" is not in list"))
            except CompileError:
                imsg = None
            self.guard(pos == 0, "ValueError", msg=imsg)
            return SCol((pos - 1).cast("long"), "int", True)
        if name == "count":
            v = self.to_col(args[0])
            return SCol(F.size(F.filter(c, lambda x: x == v)).cast("long"),
                        "int", base.nullable)
        raise CompileError(f"list.{name}")

    def _dict_method(self, base, name, args):
        if isinstance(base, SConst) and isinstance(base.value, dict) \
                and name in ("get", "keys", "values", "items"):
            base = SDict({k: SConst(v) for k, v in base.value.items()}) \
                if all(isinstance(k, str) for k in base.value) else base
            if isinstance(base, SConst) and name == "get":
                # int-keyed constant table: same when()-chain as subscript
                k = args[0]
                dflt = args[1] if len(args) > 1 else SConst(None)
                if isinstance(k, SConst):
                    if k.value in base.value:
                        return SConst(base.value[k.value])
                    return dflt
                return self._dict_dynamic_lookup(
                    [(kk, SConst(vv)) for kk, vv in base.value.items()],
                    k, default=dflt)
        if isinstance(base, SDict):
            if name == "get":
                k = args[0]
                dflt = args[1] if len(args) > 1 else SConst(None)
                if isinstance(k, SConst):
                    if k.value in base.items:
                        return base.items[k.value]
                    return dflt
                # DYNAMIC key: when()-chain with the default as the
                # otherwise arm (the earlier code returned the default
                # unconditionally — wrong whenever the key matched)
                return self._dict_dynamic_lookup(
                    list(base.items.items()), k, default=dflt)
            if name == "keys":
                return STuple([SConst(k) for k in base.items])
            if name == "values":
                return STuple(list(base.items.values()))
            if name == "items":
                # insertion-ordered (k, v) pairs, CPython >= 3.7
                return STuple([STuple([SConst(k), v])
                               for k, v in base.items.items()])
            if name in ("pop", "popitem"):
                # in-place mutation of the symbolic dict matches CPython
                # aliasing ONLY on the straight-line path: inside a
                # conditional branch both arms would see the pop, and a
                # previously captured conditional return would observe a
                # later mutation — reference compiles these via
                # SymbolTable.cc:430-492; we compile the safe subset
                if self._branch_depth > 0 or self._returns:
                    raise CompileError(
                        f"dict.{name} under conditional control flow")
                if name == "popitem":
                    if args:
                        raise CompileError("popitem takes no arguments")
                    if not base.items:
                        # CPython: KeyError('popitem(): dictionary is
                        # empty') — a one-string-arg site
                        self.guard(F.lit(True), "KeyError", args=[SConst(
                            "popitem(): dictionary is empty")])
                        return SConst(None)
                    k = next(reversed(base.items))  # LIFO like CPython
                    return STuple([SConst(k), base.items.pop(k)])
                k = args[0]
                if not (isinstance(k, SConst) and isinstance(k.value, str)):
                    raise CompileError("dict.pop key must be str constant")
                if k.value in base.items:
                    return base.items.pop(k.value)
                if len(args) > 1:
                    return args[1]
                self.guard(F.lit(True), "KeyError",
                           args=[SConst(k.value)])
                return SConst(None)
        c = self.to_col(base)
        if name == "get":
            k = self.to_col(args[0])
            v = F.element_at(c, k)
            if len(args) > 1:
                v = F.coalesce(v, self.to_col(args[1]))
            return SCol(v, "any", True)
        if name == "keys":
            return SCol(F.map_keys(c), "array", base.nullable)
        if name == "values":
            return SCol(F.map_values(c), "array", base.nullable)
        raise CompileError(f"dict.{name}")


class _SIter(Sym):
    """Result of iter(x) with a STATIC position counter: straight-line
    ``next()`` calls consume successive elements in code order (==
    CPython's execution order at the creation depth).  A next() at a
    DIFFERENT branch/HOF depth than the creation site is allowed once
    from position 0 (the ``next(iter(x), d)`` idiom inside a branch or
    comprehension) but POISONS the iterator — a later next() can't
    know whether that branch executed, so it falls back instead of
    silently re-reading (pre-r12, EVERY next() returned element 1:
    two nexts on one iterator compiled silently wrong)."""
    tag = "iter"

    def __init__(self, base, created_at=(0, 0)):
        self.base = base
        self.pos = 0
        self.created_at = created_at
        self.poisoned = False


class _BoundModuleFn(Sym):
    tag = "bound"

    def __init__(self, mod, name):
        self.mod, self.name = mod, name


class _BoundMethod(Sym):
    tag = "bound"

    def __init__(self, base, name):
        self.base, self.name = base, name


_BUILTINS = {"int", "float", "str", "bool", "len", "abs", "round",
             "min", "max", "sorted", "sum", "list", "tuple", "any", "all",
             "iter", "next", "reversed", "range", "dict", "divmod",
             "ord", "chr", "repr", "format", "set", "frozenset"}


def _tag_family(s: Sym) -> str | None:
    """Coarse comparability family for cross-type compare semantics:
    'num' (int/float/bool), 'str', or None when unknown/other."""
    if isinstance(s, SConst):
        if isinstance(s.value, (bool, int, float)):
            return "num"
        if isinstance(s.value, str):
            return "str"
        return None
    tag = getattr(s, "tag", None)
    if tag in ("int", "float", "bool"):
        return "num"
    if tag == "str":
        return "str"
    return None


# tags with a Spark type (tag_to_spark): they meet in typeutils.super_type
_LATTICE_TAGS = {"bool", "int", "float", "str", "date", "timestamp"}


def _unify_tags(a: str, b: str) -> str:
    """Tag of two arms merged into one value.  Tags with a Spark type
    meet where ``typeutils.super_type`` puts them (bool -> int -> float,
    the reference's superType); ``null`` and ``any`` yield to the other
    tag; containers unify only with themselves (their elements:
    ``_unify_arms``)."""
    if a == b or b == "null":
        return a
    if a == "null":
        return b
    if a in _LATTICE_TAGS and b in _LATTICE_TAGS:
        t = super_type(tag_to_spark(a), tag_to_spark(b))
        if t is not None:
            return spark_tag(t)
    elif "any" in (a, b):
        return a if b == "any" else b
    # genuinely incompatible (str vs int, array vs scalar, ...): refusing
    # to compile keeps CPython semantics — silently coercing to string
    # turned `return "odd" if n % 2 else n * 10` into '20'/'40'
    raise CompileError(f"incompatible result types {a} and {b}")


def _elem_tag(s: Sym) -> str:
    """Element tag of an array arm; ``null`` when unknown or empty."""
    if isinstance(s, SConst) and isinstance(s.value, (list, tuple)):
        tag = "null"
        for v in s.value:
            tag = _unify_tags(tag, _pytag(v))
        return tag
    return getattr(s, "elem", None) or "null"


def _unify_arms(arms) -> tuple[str, str | None]:
    """(tag, element tag or None when unknown) of arms merged into one
    column.  Arrays need a common element type too: Spark would cast
    ``[x]`` to ``array<string>`` beside ``["a"]``.  Raises CompileError
    when there is none."""
    tag = elem = "null"
    for s in arms:
        tag = _unify_tags(tag, s.tag)
        elem = _unify_tags(elem, _elem_tag(s))
    return tag, None if elem == "null" else elem


# compile_udf's memo; past _COMPILE_CACHE_MAX entries the oldest goes,
# so a long-lived process keeps caching its newest UDFs
_COMPILE_CACHE: OrderedDict = OrderedDict()
_COMPILE_CACHE_MAX = 512
_MISS = object()


def _cache_compile(key, out) -> None:
    _COMPILE_CACHE[key] = out
    if len(_COMPILE_CACHE) > _COMPILE_CACHE_MAX:
        _COMPILE_CACHE.popitem(last=False)


def _all_co_names(code, depth: int = 0) -> frozenset:
    """co_names of ``code`` plus every code object nested in its
    co_consts (lambdas, comprehensions, nested defs).  A global read
    ONLY inside a nested lambda — ``sorted(xs, key=lambda y: G - y)`` —
    lives in the nested code object's co_names, not the outer one's;
    keying the cache on the outer co_names alone let a mutated ``G``
    return a stale plan with the old value baked in as a constant."""
    import types as _types
    names = set(code.co_names)
    if depth < 4:
        for c in code.co_consts:
            if isinstance(c, _types.CodeType):
                names |= _all_co_names(c, depth + 1)
    return frozenset(names)


def _freeze_value(v, depth: int = 0):
    """Hashable, VALUE-based key component for a closure cell / global
    the UDF reads — the compiler embeds these as constants, so the cache
    key must change when they do.  Unsupported types raise TypeError
    (the caller then skips caching rather than risk a stale plan)."""
    if isinstance(v, (int, float, str, bytes, bool, type(None),
                      frozenset)):
        return v
    if isinstance(v, tuple) and depth < 3:
        return tuple(_freeze_value(x, depth + 1) for x in v)
    import types as _types
    if isinstance(v, _types.ModuleType):
        return ("mod", v.__name__)
    if isinstance(v, type):
        return ("cls", v)
    if callable(v) and hasattr(v, "__code__") and depth < 3:
        cells = tuple(_freeze_value(c.cell_contents, depth + 1)
                      for c in (v.__closure__ or ()))
        # globals the referenced function reads (recursively through its
        # own nested code objects) are inlined as constants too — freeze
        # their values, not just the code object
        vg = getattr(v, "__globals__", None) or {}
        gnames = tuple(sorted(
            (n, _freeze_value(vg[n], depth + 1))
            for n in _all_co_names(v.__code__) if n in vg))
        return ("fn", v.__code__,
                tuple(_freeze_value(d, depth + 1)
                      for d in (v.__defaults__ or ())), cells, gnames)
    raise TypeError(f"uncacheable closure value {type(v)}")


def _compile_cache_key(fn, schema, col_map):
    try:
        cells = tuple(_freeze_value(c.cell_contents)
                      for c in (fn.__closure__ or ()))
        gl = getattr(fn, "__globals__", {})
        names = tuple(sorted(
            (n, _freeze_value(gl[n]))
            for n in _all_co_names(fn.__code__) if n in gl))
        key = (fn.__code__, cells, names,
               tuple(_freeze_value(d) for d in (fn.__defaults__ or ())),
               schema.json(), tuple(sorted((col_map or {}).items())))
        hash(key)
        return key
    except Exception:
        return None


def compile_udf(fn, schema: T.StructType, env: dict | None = None,
                col_map: dict | None = None) -> CompiledUDF:
    """Compile ``fn`` against ``schema``; raises CompileError on failure.

    ``col_map`` redirects schema field names to physical DataFrame column
    names (used by resolve() to bind the resolver onto payload fields).

    Results are memoized per (code object, closure/global VALUES, schema,
    col_map): plan BUILD time — recognizer trials plus the py4j
    round trips that construct the Column trees — dominated sub-second
    queries (measured 0.57s build vs 0.24s execute), and repeated
    pipelines re-create textually identical lambdas every call.  Failures
    are cached too, so fallback UDFs skip the recognizer gauntlet on
    re-runs.  Columns are immutable expression handles bound to names,
    so one CompiledUDF is safely shared across same-schema DataFrames."""
    key = None if env else _compile_cache_key(fn, schema, col_map)
    if key is not None:
        hit = _COMPILE_CACHE.get(key, _MISS)
        if hit is not _MISS:
            if hit is None:
                raise CompileError("cached compile failure")
            return hit
    try:
        tr = Translator(schema, env or {}, col_map)
        out = tr.compile(fn)
    except CompileError:
        if key is not None:
            _cache_compile(key, None)
        raise
    if key is not None:
        _cache_compile(key, out)
    return out
