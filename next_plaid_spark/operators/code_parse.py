"""Code-unit extraction — P1 (SURVEY.md §2.7).

The reference parses 25+ languages with tree-sitter
(colgrep/src/parser/extract.rs:1-825) into CodeUnit rows. py-tree-sitter is
not in this container, so:

- Python is parsed for real with the stdlib ``ast`` module (functions /
  methods / classes with signature, docstring, params, calls, line spans —
  the FIXTURES.md §6 column contract);
- Rust, JavaScript, TypeScript, Go, Java, C#, C, C++, PHP and Ruby get an
  ast-lite line scanner (doc-comment capture, brace- or ``end``-matched
  spans, impl/class method contexts) matching the unit shapes asserted in
  colgrep/src/parser/tests/test_{rust,javascript,typescript,go,java,
  csharp,c,cpp,php,ruby}.rs;
- anything else falls through to a whole-file RawCode unit.

Swapping in tree-sitter later only replaces ``_parse_one`` — the
distributed shape (``mapInPandas`` over (path, content) rows) is the
operator.
"""

from __future__ import annotations

import ast
import re

from pyspark.sql import DataFrame

UNITS_OUT_SCHEMA = (
    "file string, name string, qualified_name string, unit_type string, "
    "line int, end_line int, signature string, docstring string, "
    "parameters array<string>, parent_class string, calls array<string>, "
    "code string, language string, complexity int, imports array<string>, "
    "variables array<string>, return_type string, extends string"
)


def _calls_of(node: ast.AST) -> list[str]:
    # decorators sit OUTSIDE the reference's function_definition node
    # (tree-sitter wraps it in decorated_definition), so decorator calls
    # are not the unit's calls — its decorated-function fixture asserts no
    # Calls line for @decorator_with_args(...)
    skip: set[int] = set()
    for d in getattr(node, "decorator_list", []):
        for n in ast.walk(d):
            skip.add(id(n))
    out = []
    for n in ast.walk(node):
        if id(n) in skip:
            continue
        if isinstance(n, ast.Call):
            f = n.func
            if isinstance(f, ast.Name):
                out.append(f.id)
            elif isinstance(f, ast.Attribute):
                out.append(f.attr)
    return sorted(set(out))


def _complexity_py(node: ast.AST) -> int:
    """Cyclomatic complexity, reference extract_control_flow
    (colgrep/src/parser/analysis.rs:644-686): 1 + one per branch node
    (if / conditional-expression / match) + one per loop (for / while)."""
    c = 1
    for n in ast.walk(node):
        if isinstance(n, (ast.If, ast.IfExp, ast.Match)):
            c += 1
        elif isinstance(n, (ast.For, ast.AsyncFor, ast.While)):
            c += 1
    return c


def _variables_py(node: ast.AST) -> list[str]:
    """Layer 4 data flow: declared-variable names in the unit, reference
    extract_variables (colgrep/src/parser/analysis.rs:690-760) — Python
    node kinds assignment / named_expression / augmented_assignment. The
    reference takes the raw left-side text, so attribute targets keep
    their dotted form (``self.value = …`` yields ``"self.value"`` — its
    class fixtures assert this). For tuple targets (``a, b = …`` →
    reference ``"a, b"``) we emit each Name individually — strictly more
    useful for the "Variables:" embed part and ranking stems. Same output
    contract: sorted, deduped, name length < 50."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Assign):
            targets = n.targets
        elif isinstance(n, (ast.AnnAssign, ast.AugAssign, ast.NamedExpr)):
            targets = [n.target]
        else:
            continue
        for t in targets:
            if isinstance(t, (ast.Attribute, ast.Subscript)):
                out.add(ast.unparse(t))
                continue
            for leaf in ast.walk(t):
                if isinstance(leaf, ast.Name):
                    out.add(leaf.id)
    return sorted(v for v in out if len(v) < 50)


def _imports_py(tree: ast.AST) -> list[str]:
    """File-level imports, reference extract_file_imports
    (analysis.rs:763-1006): first dotted component per import; unlike the
    reference's text scan we emit every alias of ``import a, b`` (strictly
    more complete). Deduped preserving first appearance."""
    out: list[str] = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            out.extend(a.name.split(".")[0] for a in n.names)
        elif isinstance(n, ast.ImportFrom) and n.module:
            out.append(n.module.split(".")[0])
    seen: dict[str, None] = {}
    for m in out:
        seen.setdefault(m)
    return list(seen)


def _py_params(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> list[str]:
    """Parameter NAMES in source order, excluding self/this/cls — reference
    extract_parameters (colgrep/src/parser/analysis.rs:403-568: name-field
    text per parameter child, the self/this/cls filter at :545, splat
    names via list/dictionary_splat_pattern)."""
    a = fn.args
    names = [p.arg for p in a.posonlyargs + a.args]
    if a.vararg:
        names.append(a.vararg.arg)
    names += [p.arg for p in a.kwonlyargs]
    if a.kwarg:
        names.append(a.kwarg.arg)
    return [n for n in names if n not in ("self", "this", "cls")]


def _py_docstring_ref(node, src_lines: list[str]) -> str | None:
    """Docstring the way the reference computes it (analysis.rs:100-121):
    the WHOLE source lines of the first string expression statement, joined,
    then quote-chars trimmed from the string ends and whitespace trimmed.
    Quirk preserved on purpose: an indented docstring keeps its leading
    quotes (the indentation blocks the end-trim), e.g.
    '\"\"\"Say hello.' — the reference's own fixtures assert this."""
    body = getattr(node, "body", None)
    if not body:
        return None
    first = body[0]
    if not (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)):
        return None
    raw = "\n".join(src_lines[first.lineno - 1:first.end_lineno])
    return raw.strip("\"'").strip() or None


def _py_used_modules(node: ast.AST) -> set[str]:
    """Base names used via attribute access (``json`` from ``json.loads``)
    — reference extract_used_modules feeding the per-unit import filter."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
            out.add(n.value.id)
    return out


def _filter_imports_ref(file_imports: list[str], used: set[str],
                        calls: list[str]) -> list[str]:
    """The reference's per-unit import filter (extract.rs:69-82): keep a
    file import iff the unit uses it as a module OR a call name and the
    import contain each other (case-insensitive substring both ways)."""
    used_l = {u.lower() for u in used}
    calls_l = [c.lower() for c in calls]
    return [
        imp for imp in file_imports
        if imp.lower() in used_l
        or any(imp.lower() in c or c in imp.lower() for c in calls_l)
    ]


# return-type text from the signature line for the ast-lite scanners —
# the same languages the reference extracts return_type for
# (analysis.rs:571-585: python/rust/ts via the return_type field, go via
# result, java/c#/c/cpp via the type field); regex stands in for the field
_RET_RES = {
    # python arm keeps the tree-sitter backend in parity with the ast
    # backend's ast.unparse(child.returns) on one-line defs
    "python": re.compile(r"->\s*(.+?)\s*:\s*$"),
    "rust": re.compile(r"->\s*([^{;]+?)\s*[{;]?\s*$"),
    # the reference's TS return_type is the type_annotation NODE TEXT,
    # which includes the leading ": " (its own fixtures assert
    # "Returns: : number")
    "typescript": re.compile(r"\)\s*(:\s*[^{=;]+?)\s*[{;]?\s*$"),
    "go": re.compile(r"\)\s*(\([^)]*\)|[^(){\s][^{]*?)\s*\{\s*$"),
}
_JAVALIKE_RET_RE = re.compile(
    r"^\s*(?:(?:public|private|protected|static|final|abstract|synchronized|"
    r"native|default|override|virtual|sealed|internal|async|extern|unsafe)\s+)*"
    r"([\w.$]+(?:<[^>]*>)?(?:\[\])*[?]?)\s+[\w$]+\s*\("
)


def _return_type_scan(sig: str | None, lang: str,
                      unit_type: str) -> str | None:
    if lang == "qml" and unit_type == "Constant" and sig:
        # a QML property's declared type is its return_type
        # (test_qml.rs: `required property var shell` → "var")
        m = re.search(r"\bproperty\s+(\w+(?:<[^>]*>)?)\s+", sig)
        return m.group(1) if m else None
    if not sig or unit_type not in ("Function", "Method"):
        return None
    if lang in _RET_RES:
        m = _RET_RES[lang].search(sig)
        return m.group(1).strip() if m else None
    if lang in ("java", "csharp", "c", "cpp"):
        m = _JAVALIKE_RET_RE.match(sig)
        if m and m.group(1) not in ("new", "return", "else", "case"):
            return m.group(1)
    return None


# first superclass identifier for Class units — reference
# extract_parent_class (analysis.rs:1182-1280); the scanners read it off
# the declaration line
_EXTENDS_RES = {
    "javascript": re.compile(r"\bextends\s+([A-Za-z_$][\w$]*)"),
    "typescript": re.compile(r"\bextends\s+([A-Za-z_$][\w$]*)"),
    "java": re.compile(r"\bextends\s+([\w.]+)"),
    "php": re.compile(r"\bextends\s+\\?([\w\\]+)"),
    "ruby": re.compile(r"^\s*class\s+[\w:]+\s*<\s*([\w:]+)"),
    # inline component base type (test_qml.rs: FancyChip extends Rectangle)
    "qml": re.compile(r"^component\s+\w+\s*:\s*([A-Z][\w.]*)"),
}


def _extends_scan(sig: str | None, lang: str, unit_type: str) -> str | None:
    if not sig or unit_type != "Class":
        return None
    if lang == "python":
        # first plain-identifier base, matching the ast backend's
        # first-ast.Name rule (dotted bases like abc.ABC are skipped)
        hit = re.match(r"\s*class\s+\w+\s*\(([^)]*)\)", sig)
        if hit:
            for base in hit.group(1).split(","):
                base = base.strip()
                if re.fullmatch(r"[A-Za-z_]\w*", base):
                    return base
        return None
    m = _EXTENDS_RES.get(lang)
    if m:
        hit = m.search(sig)
        if hit:
            return hit.group(1)
    return None


def _attr_start(lines: list[str], idx: int, prefixes: tuple[str, ...]) -> int:
    """Walk upward from 0-based line ``idx`` over attribute/decorator/doc
    lines (reference find_start_with_attributes, ast.rs:364-409): empty
    lines are skipped but only attribute lines move the start."""
    start = idx
    for i in range(idx - 1, -1, -1):
        t = lines[i].strip()
        if not t:
            continue
        if t.startswith(prefixes):
            start = i
        else:
            break
    return start


# branch/loop keyword scan for the ast-lite languages (the same node-kind
# families analysis.rs:644-686 counts, as word tokens on comment/string-
# stripped lines; 'elif'/'foreach' don't false-match thanks to \b)
_BRANCH_KW_RE = re.compile(r"\b(?:if|match|switch|case|when|unless)\b")
_LOOP_KW_RE = re.compile(r"\b(?:for|foreach|while|loop|until|do)\b")


def _complexity_scan(code: str) -> int:
    c = 1
    for line in (code or "").splitlines():
        s = _strip_code_line(line)
        c += len(_BRANCH_KW_RE.findall(s)) + len(_LOOP_KW_RE.findall(s))
    return c


# declaration forms per ast-lite language — the node-kind families
# analysis.rs:690-760 walks (let_declaration, variable_declarator,
# short_var_declaration, …) as line regexes on comment/string-stripped
# lines. Java/C#/C/C++ use an initialized-declaration shape
# (`Type name = …`) rather than the bare-declaration node, and PHP counts
# only assigned `$var`s (the reference's simple_variable kind would list
# every usage) — both divergences keep the list declaration-like.
_VAR_SCAN_RES: dict[str, list] = {
    "rust": [re.compile(r"\blet\s+(?:mut\s+)?([A-Za-z_]\w*)")],
    "javascript": [re.compile(r"\b(?:let|const|var)\s+([A-Za-z_$]\w*)")],
    "typescript": [re.compile(r"\b(?:let|const|var)\s+([A-Za-z_$]\w*)")],
    "go": [
        re.compile(r"\b([A-Za-z_]\w*)\s*:="),
        re.compile(r"^\s*var\s+([A-Za-z_]\w*)"),
    ],
    "java": [
        re.compile(r"^\s*(?!return\b|throw\b|case\b)(?:final\s+)?[A-Za-z_][\w.<>\[\],\s]*\s+([a-z_]\w*)\s*="),
        re.compile(r"^\s*var\s+([a-z_]\w*)\s*="),
    ],
    "csharp": [
        re.compile(r"^\s*(?!return\b|throw\b|case\b)(?:readonly\s+)?[A-Za-z_][\w.<>\[\],\s]*\s+([a-z_]\w*)\s*="),
        re.compile(r"^\s*var\s+([a-z_]\w*)\s*="),
    ],
    # statement-keyword lookahead: `return x;` / `goto end;` must not read
    # as a declaration of `x` (the captured-name keyword filter below can't
    # see the statement PREFIX)
    "c": [re.compile(r"^\s*(?!return\b|goto\b|case\b|else\b|do\b|typedef\b)[A-Za-z_][\w\s*]*[\s*]([A-Za-z_]\w*)\s*[=;[]")],
    "cpp": [re.compile(r"^\s*(?!return\b|goto\b|case\b|else\b|do\b|typedef\b|throw\b|delete\b|using\b|namespace\b)[A-Za-z_][\w:<>,\s*&]*[\s*&]([A-Za-z_]\w*)\s*[={;[]")],
    "php": [re.compile(r"\$([A-Za-z_]\w*)\s*=[^=]")],
    "ruby": [re.compile(r"^\s*([a-z_]\w*)\s*=[^=~]")],
    "python": [re.compile(r"^\s*([A-Za-z_]\w*)\s*=[^=]")],  # RawCode fallback only
    "swift": [re.compile(r"\b(?:let|var)\s+([A-Za-z_]\w*)")],
    "kotlin": [re.compile(r"\b(?:val|var)\s+([A-Za-z_]\w*)")],
    "scala": [re.compile(r"\b(?:val|var)\s+([A-Za-z_]\w*)")],
    "zig": [re.compile(r"\b(?:const|var)\s+([a-z_]\w*)\s*[:=]")],
    "lua": [re.compile(r"\blocal\s+([A-Za-z_]\w*)")],
    "julia": [re.compile(r"^\s*(?:local\s+)?([a-z_]\w*)\s*=[^==]")],
    "elixir": [re.compile(r"^\s*([a-z_]\w*)\s*=[^==]")],
    "vue": [re.compile(r"\b(?:let|const|var)\s+([A-Za-z_$]\w*)")],
    "svelte": [re.compile(r"\b(?:let|const|var)\s+([A-Za-z_$]\w*)")],
    # R: left/equals assignment names (ast.rs:149)
    "r": [re.compile(r"^\s*([A-Za-z.][\w.]*)\s*(?:<<?-|=[^=])")],
    # QML: ids, property names, and JS locals inside function bodies
    # (test_qml.rs: the object's variables are its id + property names)
    "qml": [
        re.compile(r"^\s*id\s*:\s*([A-Za-z_]\w*)"),
        re.compile(r"\bproperty\s+\w+(?:<[^>]*>)?\s+([A-Za-z_]\w*)"),
        re.compile(r"\b(?:let|const|var)\s+([A-Za-z_$]\w*)"),
    ],
}

_VAR_KEYWORDS = frozenset((
    "return", "if", "else", "while", "for", "break", "continue", "switch",
    "case", "goto", "typedef", "struct", "class", "enum", "union", "public",
    "private", "protected", "static", "const", "constexpr", "auto", "new",
    "delete", "using", "namespace", "template", "typename", "do", "try",
    "catch", "throw", "in", "of", "end", "then", "elsif", "unless", "def",
))


def _variables_scan(code: str, lang: str) -> list[str]:
    """ast-lite extract_variables (analysis.rs:690-760): declaration-name
    regexes per language over stripped lines; sorted/deduped, length < 50,
    leading alpha/underscore — the reference's output filter."""
    res = _VAR_SCAN_RES.get(lang)
    if not res:
        return []
    out: set[str] = set()
    ordered: list[str] = []
    for line in (code or "").splitlines():
        s = _strip_code_line(line)
        for rx in res:
            for m in rx.finditer(s):
                name = m.group(1)
                if name and len(name) < 50 and name not in _VAR_KEYWORDS:
                    # SFC quirk: the reference's vue/svelte analysis lists
                    # the declaration keyword alongside the name
                    # (test_vue.rs pins `Variables: const, user`)
                    if lang in ("vue", "svelte"):
                        kw = re.match(r".*\b(let|const|var)\s+" + re.escape(name),
                                      s[:m.end(1)])
                        if kw and not re.match(
                                r"\s*=\s*(?:async\s*)?(?:function\b|"
                                r"\([^)]*\)\s*(?::[^=]*)?=>|[A-Za-z_$][\w$]*\s*=>)",
                                s[m.end(1):]):
                            out.add(kw.group(1))
                    # a function-valued declaration is the UNIT, not one of
                    # its variables (`const add = (a, b) => …` — the
                    # reference's arrow-function fixtures have no
                    # Variables line)
                    if re.match(
                        r"\s*=\s*(?:async\s*)?(?:function\b|\([^)]*\)\s*(?::[^=]*)?=>|"
                        r"[A-Za-z_$][\w$]*\s*=>)",
                        s[m.end(1):],
                    ):
                        continue
                    out.add(name)
                    if lang == "qml":
                        ordered.append(name)
    if lang == "qml":
        # QML variables keep DOCUMENT order (test_qml.rs pins
        # ["root", "shell", "count"], the id/property declaration order)
        seen: set[str] = set()
        return [n for n in ordered if not (n in seen or seen.add(n))]
    return sorted(out)


_RUST_USE_RE = re.compile(
    r"^\s*(?:pub(?:\([^)]*\))?\s+)?use\s+([A-Za-z_][A-Za-z0-9_]*)"
)
_JS_IMPORT_FROM_RE = re.compile(
    r"""^\s*(?:import|export)\b[^'"]*\bfrom\s+['"]([^'"]+)['"]"""
)
_JS_IMPORT_BARE_RE = re.compile(r"""^\s*import\s+['"]([^'"]+)['"]""")
_GO_IMPORT_STR_RE = re.compile(r'"([^"]+)"')
_JAVALIKE_IMPORT_RE = re.compile(
    r"^\s*(?:import|using)\s+(?:static\s+)?([A-Za-z_][A-Za-z0-9_.]*)"
)
_C_INCLUDE_RE = re.compile(r'^\s*#\s*include\s*[<"]([^>"]+)[>"]')
_PHP_USE_RE = re.compile(r"^\s*use\s+\\?([A-Za-z_][A-Za-z0-9_]*)")
_RUBY_REQUIRE_RE = re.compile(
    r"""^\s*require(?:_relative)?\s*\(?\s*['"]([^'"]+)['"]"""
)


def _file_imports(content: str, lang: str) -> list[str]:
    """ast-lite file imports per language, mirroring extract_file_imports'
    per-language component choice (first path component by default; LAST
    component for Java/C#'s qualified class imports, Go packages and Ruby
    requires; header basename for C/C++)."""
    out: list[str] = []
    lines = (content or "").splitlines()
    in_go_import = False
    for raw in lines:
        if lang == "rust":
            m = _RUST_USE_RE.match(raw)
            if m:
                out.append(m.group(1))
        elif lang in ("javascript", "typescript", "vue", "svelte"):
            m = _JS_IMPORT_FROM_RE.match(raw) or _JS_IMPORT_BARE_RE.match(raw)
            if m:
                spec = m.group(1)
                parts = [p for p in spec.split("/") if p not in ("", ".", "..")]
                if parts:
                    # '@scope/pkg' → pkg; './utils/helper' → utils
                    out.append(parts[1] if parts[0].startswith("@") and len(parts) > 1
                               else parts[0].lstrip("@"))
        elif lang == "go":
            s = raw.strip()
            if s.startswith("import ("):
                in_go_import = True
                continue
            if in_go_import and s.startswith(")"):
                in_go_import = False
                continue
            if in_go_import or s.startswith("import"):
                m = _GO_IMPORT_STR_RE.search(raw)
                if m:
                    out.append(m.group(1).split("/")[-1])
        elif lang in ("java", "csharp"):
            m = _JAVALIKE_IMPORT_RE.match(raw)
            if m:
                out.append(m.group(1).split(".")[-1])
        elif lang in ("c", "cpp"):
            m = _C_INCLUDE_RE.match(raw)
            if m:
                base = m.group(1).split("/")[-1]
                out.append(base.split(".")[0])
        elif lang == "php":
            m = _PHP_USE_RE.match(raw)
            if m:
                out.append(m.group(1))
        elif lang == "ruby":
            m = _RUBY_REQUIRE_RE.match(raw)
            if m:
                out.append(m.group(1).split("/")[-1])
        elif lang in ("swift", "kotlin", "scala"):
            # `import Foundation` / `import kotlinx.coroutines.launch` /
            # `import scala.collection.mutable` — first component for
            # Swift's module imports, last for Kotlin/Scala qualified ones
            m = re.match(r"^\s*import\s+([A-Za-z_][A-Za-z0-9_.]*)", raw)
            if m:
                parts = m.group(1).split(".")
                out.append(parts[0] if lang == "swift" else parts[-1])
        elif lang == "zig":
            m = re.search(r"""@import\s*\(\s*"([^"]+)"\s*\)""", raw)
            if m:
                out.append(m.group(1).split("/")[-1].removesuffix(".zig"))
        elif lang == "lua":
            m = re.search(r"""\brequire\s*\(?\s*['"]([^'"]+)['"]""", raw)
            if m:
                out.append(m.group(1).split(".")[-1])
        elif lang == "julia":
            m = re.match(r"^\s*(?:using|import)\s+([A-Za-z_][\w.]*)", raw)
            if m:
                out.append(m.group(1).split(".")[0])
        elif lang == "elixir":
            m = re.match(r"^\s*(?:alias|import|use|require)\s+([A-Za-z_][\w.]*)", raw)
            if m:
                out.append(m.group(1).split(".")[-1])
        elif lang == "haskell":
            m = re.match(r"^import\s+(?:qualified\s+)?([A-Za-z_][\w.]*)", raw)
            if m:
                out.append(m.group(1).split(".")[-1])
        elif lang == "ocaml":
            m = re.match(r"^open\s+([A-Za-z_][\w.]*)", raw)
            if m:
                out.append(m.group(1).split(".")[0])
        elif lang == "r":
            m = _R_IMPORT_RE.match(raw)
            if m:
                out.append(m.group(1))
        elif lang == "qml":
            # `import QtQuick 2.15` / `import "utils.js" as Utils`
            m = re.match(
                r"""^\s*import\s+(?:([A-Za-z_][\w.]*)|"([^"]+)")""", raw
            )
            if m:
                mod = m.group(1) or m.group(2).split("/")[-1]
                out.append(mod.removesuffix(".js").split(".")[0])
    seen: dict[str, None] = {}
    for mod in out:
        if mod:
            seen.setdefault(mod)
    return list(seen)


# -- Rust / JavaScript ast-lite extraction -------------------------------------

_CALL_RE = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(")
_NON_CALL_KEYWORDS = frozenset(
    "if while for match switch return fn function catch loop unsafe "
    "new async await typeof super constructor".split()
)

_RUST_FN_RE = re.compile(
    r"^\s*(?:pub(?:\([^)]*\))?\s+)?(?:const\s+)?(?:async\s+)?(?:unsafe\s+)?"
    r"(?:extern\s+\"[^\"]*\"\s+)?fn\s+([A-Za-z_][A-Za-z0-9_]*)"
)
_RUST_TYPE_RE = re.compile(
    r"^\s*(?:pub(?:\([^)]*\))?\s+)?(?:struct|enum|trait)\s+([A-Za-z_][A-Za-z0-9_]*)"
)
_RUST_IMPL_RE = re.compile(
    r"^\s*impl(?:\s*<[^>]*>)?\s+(?:[A-Za-z_][A-Za-z0-9_:<>, ]*\s+for\s+)?"
    r"([A-Za-z_][A-Za-z0-9_]*)"
)
_RUST_CONST_RE = re.compile(
    r"^\s*(?:pub(?:\([^)]*\))?\s+)?(?:const|static)\s+([A-Z_][A-Z0-9_]*)\s*:"
)

_JS_FN_RE = re.compile(
    r"^\s*(?:export\s+)?(?:default\s+)?(?:async\s+)?function\s*\*?\s*"
    r"([A-Za-z_$][A-Za-z0-9_$]*)\s*\("
)
_JS_ARROW_RE = re.compile(
    r"^\s*(?:export\s+)?(?:const|let|var)\s+([A-Za-z_$][A-Za-z0-9_$]*)\s*=\s*"
    r"(?:async\s*)?(?:\([^)]*\)|[A-Za-z_$][A-Za-z0-9_$]*)\s*=>"
)
_JS_FNEXPR_RE = re.compile(
    r"^\s*(?:export\s+)?(?:const|let|var)\s+([A-Za-z_$][A-Za-z0-9_$]*)\s*=\s*"
    r"(?:async\s+)?function\s*\*?\s*\("
)
_JS_CLASS_RE = re.compile(
    r"^\s*(?:export\s+)?(?:default\s+)?class\s+([A-Za-z_$][A-Za-z0-9_$]*)"
)
_JS_METHOD_RE = re.compile(
    r"^\s*(?:public\s+|private\s+|protected\s+|readonly\s+)*(?:static\s+)?"
    r"(?:async\s+)?(?:get\s+|set\s+)?\*?\s*"
    r"([A-Za-z_$][A-Za-z0-9_$]*)\s*\([^)]*\)\s*(?::\s*[^{;=]+)?\{"
)
_JS_CONST_RE = re.compile(
    r"^\s*(?:export\s+)?const\s+([A-Z_$][A-Z0-9_$]*)\s*="
)
_JS_KEYWORD_NOT_METHOD = frozenset("if for while switch catch function return".split())


def _strip_code_line(line: str) -> str:
    """Drop line comments and string contents so brace counting is sane."""
    out = []
    i, n = 0, len(line)
    in_str: str | None = None
    while i < n:
        ch = line[i]
        if in_str:
            if ch == "\\":
                i += 2
                continue
            if ch == in_str:
                in_str = None
            i += 1
            continue
        if ch in "\"'`":
            in_str = ch
            i += 1
            continue
        if ch == "/" and i + 1 < n and line[i + 1] == "/":
            break
        out.append(ch)
        i += 1
    return "".join(out)


def _brace_end(lines: list[str], start: int) -> int:
    """1-based end line of the block opened at ``lines[start-1]``; falls back
    to the start line if no brace opens there (expression-bodied)."""
    depth = 0
    opened = False
    for i in range(start - 1, len(lines)):
        s = _strip_code_line(lines[i])
        for ch in s:
            if ch == "{":
                depth += 1
                opened = True
            elif ch == "}":
                depth -= 1
                if opened and depth == 0:
                    return i + 1
        if not opened and (";" in s or i > start + 2):
            return i + 1
    return len(lines)


# a name(...)-shaped match that is actually a DECLARATION head, not a
# call: the reference walks call_expression nodes only, so `public int
# add(int a, int b) {` inside a class body contributes no call (its java
# class fixture asserts no Calls line). Heuristic: the match starts the
# line (after modifiers/type tokens only) and the line opens a block.
_DECL_HEAD_RE = re.compile(
    r"^\s*(?:[\w.<>\[\],?*&$]+\s+){0,6}$"
)
# a statement keyword before name(...) means it IS a call/expression
# (`return checkAmount(x)`, `new Foo(x)`, `yield f(x)`, `defer cleanup()`,
# `go worker(ch)`, `raise ValueError(msg)`) — never a declaration head
_DECL_PREFIX_STOP = frozenset(
    "return else case await yield throw new in not and or assert "
    "raise defer go del puts print echo".split()
)


def _calls_in(text: str, own_name: str) -> list[str]:
    names = set()
    lines = (text or "").splitlines()
    for i, line in enumerate(lines):
        s = _strip_code_line(line)
        opens_block = s.rstrip().endswith("{")
        for m in _CALL_RE.finditer(s):
            name = m.group(1)
            if name in _NON_CALL_KEYWORDS or name == own_name:
                continue
            # declaration head: only modifier/type tokens precede the name
            # on a block-opening line (or, Allman style, a line that ends
            # at the close paren AND has at least one modifier/type token
            # before the name — but only when the block actually opens on
            # a following line; `defer cleanup()` is a call, not a head)
            prefix = s[:m.start(1)]
            tail = s[m.start(1) + len(name):]
            if any(t.lower() in _DECL_PREFIX_STOP for t in prefix.split()):
                names.add(name)
                continue
            if opens_block and _DECL_HEAD_RE.match(prefix) \
                    and re.match(r"\([^()]*\)\s*(?:->|:)?[\w\s.<>\[\],?*&$:]*\{\s*$",
                                 tail):
                continue
            if _DECL_HEAD_RE.match(prefix) and prefix.strip() \
                    and re.match(r"\([^()]*\)\s*$", tail) \
                    and _opens_block(lines, i):
                continue
            names.add(name)
    return sorted(names)


def _params_rust(sig: str) -> list[str]:
    m = re.search(r"\(([^)]*)\)", sig)
    if not m:
        return []
    out = []
    for part in m.group(1).split(","):
        part = part.strip()
        if not part or part in ("&self", "self", "&mut self", "mut self"):
            continue
        name = part.split(":")[0].strip().lstrip("&").replace("mut ", "").strip()
        if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            out.append(name)
    return out


def _params_js(sig: str) -> list[str]:
    m = re.search(r"\(([^)]*)\)", sig)
    if not m:
        # single-arg arrow without parens: const f = x => ...
        m2 = re.search(r"=\s*(?:async\s*)?([A-Za-z_$][A-Za-z0-9_$]*)\s*=>", sig)
        return [m2.group(1)] if m2 else []
    out = []
    for part in m.group(1).split(","):
        # drop default values and TS type annotations: "id: number = 3"
        name = part.strip().split("=")[0].split(":")[0].strip().lstrip(".?")
        if re.fullmatch(r"[A-Za-z_$][A-Za-z0-9_$]*", name):
            out.append(name)
    return out


def _doc_above(lines: list[str], start: int, kind: str) -> str | None:
    """Doc comment ending on the line above ``start`` (1-based).

    kind='rust': contiguous /// or //! lines; kind='line': contiguous //
    lines (Go, C fallback); kind='hash': contiguous # lines (Ruby);
    kind='js': a /** … */ block (also tried first for C-family).
    Joined with spaces the way the reference flattens them."""
    i = start - 2
    if kind == "jsline":
        # kotlin/scala: KDoc/Scaladoc block first (the reference's branch,
        # analysis.rs:143-152), plain // lines as the scanner fallback
        return _doc_above(lines, start, "js") or _doc_above(lines, start, "line")
    if kind in ("rust", "line", "hash", "dash", "rhash"):
        pat = {"rust": r"\s*//[/!]", "line": r"\s*//(?!/)", "hash": r"\s*#",
               "dash": r"\s*--", "rhash": r"\s*#"}[kind]
        strip_pat = {"rust": r"\s*//[/!]\s?", "line": r"\s*//\s?",
                     "hash": r"\s*#\s?", "dash": r"\s*--\s?",
                     # R: roxygen #' and plain # both strip clean
                     "rhash": r"\s*#'?\s?"}[kind]
        doc: list[str] = []
        while i >= 0 and re.match(pat, lines[i]):
            doc.append(re.sub(strip_pat, "", lines[i]).strip())
            i -= 1
        if doc:
            return " ".join(x for x in reversed(doc)).strip() or None
        return None
    if i >= 0 and lines[i].strip().endswith("*/"):
        j = i
        while j >= 0 and not lines[j].strip().startswith(("/**", "/*")):
            j -= 1
        if j < 0:
            return None
        # per-line trimming exactly as the reference flattens JSDoc blocks
        # (analysis.rs:158-178): trim, strip leading "/**"/"/*" then '*'s,
        # strip a trailing "*/", trim, drop empties, join with spaces.
        # Quirk preserved: a dedicated " */" line survives as "/" (its
        # leading '*' is stripped first, so nothing ends with "*/") — the
        # reference's own jsdoc fixtures assert the trailing " /".
        frags = []
        for k in range(j, i + 1):
            t = lines[k].strip()
            while t.startswith("/**"):
                t = t[3:]
            while t.startswith("/*"):
                t = t[2:]
            t = t.lstrip("*")
            while t.endswith("*/"):
                t = t[:-2]
            t = t.strip()
            if t:
                frags.append(t)
        return " ".join(frags) or None
    return None


def _doc_c_family(lines: list[str], start: int) -> str | None:
    """Javadoc-style block if present, else contiguous // lines."""
    return _doc_above(lines, start, "js") or _doc_above(lines, start, "line")


def _parse_rust(path: str, content: str) -> list[tuple]:
    lines = (content or "").splitlines()
    units: list[tuple] = []
    impl_ctx: list[tuple[str, int]] = []  # (type name, end_line)
    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        while impl_ctx and lineno > impl_ctx[-1][1]:
            impl_ctx.pop()
        m = _RUST_IMPL_RE.match(line)
        if m and "{" in _strip_code_line(line):
            impl_ctx.append((m.group(1), _brace_end(lines, lineno)))
            i += 1
            continue
        m = _RUST_FN_RE.match(line)
        if m:
            name = m.group(1)
            end = _brace_end(lines, lineno)
            # doc comments and #[attributes] above the item belong to its
            # line range and code (reference find_start_with_attributes,
            # ast.rs:364-409 Rust branch) — the signature stays the fn line
            start = _attr_start(lines, i, ("///", "#[", "#!["))
            body = "\n".join(lines[start:end])
            parent = impl_ctx[-1][0] if impl_ctx else None
            units.append((
                path, name, f"{parent}.{name}" if parent else name,
                "Method" if parent else "Function", start + 1, end,
                line.strip(), _doc_above(lines, lineno, "rust"),
                _params_rust(line), parent, _calls_in(body, name), body, "rust",
            ))
            i = end
            continue
        m = _RUST_TYPE_RE.match(line)
        if m:
            name = m.group(1)
            end = _brace_end(lines, lineno)
            start = _attr_start(lines, i, ("///", "#[", "#!["))
            body = "\n".join(lines[start:end])
            units.append((
                path, name, name, "Class", start + 1, end, line.strip(),
                _doc_above(lines, lineno, "rust"), [], None,
                _calls_in(body, name), body, "rust",
            ))
            i = end
            continue
        m = _RUST_CONST_RE.match(line)
        if m and not impl_ctx:
            end = _brace_end(lines, lineno) if "{" in _strip_code_line(line) else lineno
            units.append((
                path, m.group(1), m.group(1), "Constant", lineno, end, None,
                _doc_above(lines, lineno, "rust"), [], None, [],
                "\n".join(lines[lineno - 1:end]), "rust",
            ))
        i += 1
    return units


def _parse_js(path: str, content: str) -> list[tuple]:
    lines = (content or "").splitlines()
    units: list[tuple] = []
    class_ctx: list[tuple[str, int]] = []
    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        while class_ctx and lineno > class_ctx[-1][1]:
            class_ctx.pop()
        m = _JS_CLASS_RE.match(line)
        if m:
            name = m.group(1)
            end = _brace_end(lines, lineno)
            # JSDoc blocks and decorators above the unit belong to its line
            # range and code (find_start_with_attributes, ast.rs:391-394:
            # '@', '/**' and '*' lines)
            start = _attr_start(lines, i, ("@", "/**", "*"))
            body = "\n".join(lines[start:end])
            units.append((
                path, name, name, "Class", start + 1, end, line.strip(),
                _doc_above(lines, lineno, "js"), [], None,
                _calls_in(body, name), body, "javascript",
            ))
            class_ctx.append((name, end))
            i += 1
            continue
        m = _JS_FN_RE.match(line) or _JS_FNEXPR_RE.match(line) or _JS_ARROW_RE.match(line)
        if m and not class_ctx:
            name = m.group(1)
            end = _brace_end(lines, lineno)
            start = _attr_start(lines, i, ("@", "/**", "*"))
            body = "\n".join(lines[start:end])
            units.append((
                path, name, name, "Function", start + 1, end, line.strip(),
                _doc_above(lines, lineno, "js"), _params_js(line), None,
                _calls_in(body, name), body, "javascript",
            ))
            i = end
            continue
        if class_ctx:
            m = _JS_METHOD_RE.match(line)
            if m and m.group(1) not in _JS_KEYWORD_NOT_METHOD:
                name, parent = m.group(1), class_ctx[-1][0]
                end = _brace_end(lines, lineno)
                start = _attr_start(lines, i, ("@", "/**", "*"))
                body = "\n".join(lines[start:end])
                units.append((
                    path, name, f"{parent}.{name}", "Method", start + 1, end,
                    line.strip(), _doc_above(lines, lineno, "js"),
                    _params_js(line), parent, _calls_in(body, name), body,
                    "javascript",
                ))
                i = end
                continue
        m = _JS_CONST_RE.match(line)
        if m and not class_ctx and not _JS_ARROW_RE.match(line) \
                and not _JS_FNEXPR_RE.match(line):
            units.append((
                path, m.group(1), m.group(1), "Constant", lineno, lineno, None,
                _doc_above(lines, lineno, "js"), [], None, [],
                line.strip(), "javascript",
            ))
        i += 1
    return units


# -- TypeScript (JS machinery + type-annotation tolerance) ----------------------

_TS_IFACE_RE = re.compile(
    r"^\s*(?:export\s+)?(?:declare\s+)?(?:const\s+)?(?:abstract\s+)?"
    r"(?:interface|enum)\s+([A-Za-z_$][A-Za-z0-9_$]*)"
)
_TS_ALIAS_RE = re.compile(
    r"^\s*(?:export\s+)?type\s+([A-Za-z_$][A-Za-z0-9_$]*)(?:<[^>]*>)?\s*="
)
_TS_ARROW_RE = re.compile(
    r"^\s*(?:export\s+)?(?:const|let|var)\s+([A-Za-z_$][A-Za-z0-9_$]*)"
    r"(?:\s*:\s*[^=]+?)?\s*=\s*(?:async\s*)?"
    r"(?:\([^)]*\)\s*(?::\s*[^=>{]+?)?|[A-Za-z_$][A-Za-z0-9_$]*)\s*=>"
)


def _parse_ts(path: str, content: str) -> list[tuple]:
    lines = (content or "").splitlines()
    units = _parse_js(path, content)
    units = [u[:12] + ("typescript",) for u in units]
    seen = {(u[1], u[4]) for u in units}
    for i, line in enumerate(lines):
        lineno = i + 1
        m = _TS_IFACE_RE.match(line)
        if m and (m.group(1), lineno) not in seen:
            end = _brace_end(lines, lineno)
            units.append((
                path, m.group(1), m.group(1), "Class", lineno, end,
                line.strip(), _doc_above(lines, lineno, "js"), [], None, [],
                "\n".join(lines[lineno - 1:end]), "typescript",
            ))
            continue
        m = _TS_ALIAS_RE.match(line)
        if m and (m.group(1), lineno) not in seen:
            end = _brace_end(lines, lineno) if "{" in _strip_code_line(line) \
                else lineno
            units.append((
                path, m.group(1), m.group(1), "Class", lineno, end,
                line.strip(), _doc_above(lines, lineno, "js"), [], None, [],
                "\n".join(lines[lineno - 1:end]), "typescript",
            ))
            continue
        m = _TS_ARROW_RE.match(line)
        if m and (m.group(1), lineno) not in seen:
            end = _brace_end(lines, lineno)
            body = "\n".join(lines[lineno - 1:end])
            units.append((
                path, m.group(1), m.group(1), "Function", lineno, end,
                line.strip(), _doc_above(lines, lineno, "js"),
                _params_js(line), None, _calls_in(body, m.group(1)), body,
                "typescript",
            ))
    units.sort(key=lambda u: u[4])
    return units


# -- Go -------------------------------------------------------------------------

_GO_FUNC_RE = re.compile(
    r"^func\s+(?:\((?P<recv>[^)]*)\)\s*)?(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*\("
)
_GO_TYPE_RE = re.compile(
    r"^type\s+([A-Za-z_][A-Za-z0-9_]*)\s+(?:struct|interface)\b"
)
_GO_CONST_RE = re.compile(r"^(?:const|var)\s+([A-Za-z_][A-Za-z0-9_]*)\s*[=\s]")


def _paren_group(line: str, open_idx: int) -> str:
    """Contents of the paren group opening at ``line[open_idx]`` == '('."""
    depth = 0
    for j in range(open_idx, len(line)):
        if line[j] == "(":
            depth += 1
        elif line[j] == ")":
            depth -= 1
            if depth == 0:
                return line[open_idx + 1:j]
    return line[open_idx + 1:]


def _params_go(arglist: str) -> list[str]:
    """Go params group like ``a, b int, c *Foo`` → first identifier of each
    comma part (grouped params share a type; names come first)."""
    out = []
    depth = 0
    part = []
    parts: list[str] = []
    for ch in arglist:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(part))
            part = []
        else:
            part.append(ch)
    parts.append("".join(part))
    for p in parts:
        m = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)", p)
        if m:
            out.append(m.group(1))
    return out


def _parse_go(path: str, content: str) -> list[tuple]:
    lines = (content or "").splitlines()
    units: list[tuple] = []
    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        m = _GO_FUNC_RE.match(line)
        if m:
            name = m.group("name")
            recv = m.group("recv")
            parent = None
            if recv:
                # receiver like ``c *Calculator`` → parent Calculator
                toks = recv.replace("*", " ").split()
                parent = toks[-1] if toks else None
            end = _brace_end(lines, lineno)
            # Go doc comments above the decl are part of its line range and
            # code (find_start_with_attributes, ast.rs:395-396)
            start = _attr_start(lines, i, ("//",))
            body = "\n".join(lines[start:end])
            params = _params_go(_paren_group(line, m.end() - 1))
            units.append((
                path, name, f"{parent}.{name}" if parent else name,
                "Method" if parent else "Function", start + 1, end,
                line.strip(), _doc_above(lines, lineno, "line"),
                params, parent, _calls_in(body, name), body, "go",
            ))
            i = end
            continue
        m = _GO_TYPE_RE.match(line)
        if m:
            end = _brace_end(lines, lineno)
            start = _attr_start(lines, i, ("//",))
            body = "\n".join(lines[start:end])
            units.append((
                path, m.group(1), m.group(1), "Class", start + 1, end,
                line.strip(), _doc_above(lines, lineno, "line"), [], None,
                _calls_in(body, m.group(1)), body, "go",
            ))
            i = end
            continue
        m = _GO_CONST_RE.match(line)
        if m and m.group(1) not in ("func", "type"):
            units.append((
                path, m.group(1), m.group(1), "Constant", lineno, lineno,
                None, _doc_above(lines, lineno, "line"), [], None, [],
                line.strip(), "go",
            ))
        i += 1
    return units


# -- Java / C# (class-scanned; methods ALSO emitted as separate units,
#    per colgrep/src/parser/tests/test_java.rs "Methods are extracted as
#    separate units alongside their parent classes") ---------------------------

_JAVALIKE_CLASS_RE = re.compile(
    r"^\s*(?:@[\w.]+(?:\([^)]*\))?\s+)*"
    r"(?:(?:public|private|protected|internal|static|final|abstract|sealed|"
    r"partial|strictfp)\s+)*"
    r"(?:class|interface|enum|record|struct)\s+([A-Za-z_$][A-Za-z0-9_$]*)"
)
_JAVALIKE_METHOD_RE = re.compile(
    r"^\s*(?:@[\w.]+(?:\([^)]*\))?\s+)*"
    r"(?:(?:public|private|protected|internal|static|final|abstract|"
    r"synchronized|native|default|virtual|override|async|sealed|partial|"
    r"extern|new|unsafe|strictfp)\s+)*"
    r"(?:<[^>]+>\s+)?"
    r"(?:[A-Za-z_$][\w.<>\[\],?$ ]*?\s+)?"
    r"([A-Za-z_$][A-Za-z0-9_$]*)\s*\(([^)]*)\)\s*"
    r"(?:throws\s+[\w.,\s]+)?\s*\{?\s*$"
)
_JAVALIKE_KEYWORDS = frozenset(
    "if for while switch catch return new else do try synchronized using "
    "lock foreach".split()
)
_JAVALIKE_CONST_RE = re.compile(
    r"^\s*(?:(?:public|private|protected|internal)\s+)?"
    r"(?:static\s+final|final\s+static|const|static\s+readonly)\s+"
    r"[\w.<>\[\],?$ ]+?\s+([A-Z_][A-Z0-9_]*)\s*="
)


def _params_javalike(arglist: str) -> list[str]:
    out = []
    for part in arglist.split(","):
        part = re.sub(r"<[^>]*>", "", part).split("=")[0].strip()
        if not part or part == "void":
            continue
        toks = part.replace("...", " ").split()
        if toks:
            name = toks[-1].lstrip("&*")
            if re.fullmatch(r"[A-Za-z_$][A-Za-z0-9_$]*", name):
                out.append(name)
    return out


def _parse_javalike(path: str, content: str, lang: str) -> list[tuple]:
    lines = (content or "").splitlines()
    units: list[tuple] = []
    class_ctx: list[tuple[str, int]] = []
    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        while class_ctx and lineno > class_ctx[-1][1]:
            class_ctx.pop()
        m = _JAVALIKE_CLASS_RE.match(line)
        if m:
            name = m.group(1)
            end = _brace_end(lines, lineno)
            body = "\n".join(lines[lineno - 1:end])
            parent = class_ctx[-1][0] if class_ctx else None
            units.append((
                path, name, f"{parent}.{name}" if parent else name, "Class",
                lineno, end, line.strip(), _doc_c_family(lines, lineno), [],
                parent, _calls_in(body, name), body, lang,
            ))
            class_ctx.append((name, end))
            i += 1
            continue
        if class_ctx:
            m = _JAVALIKE_METHOD_RE.match(line)
            # _opens_block admits Allman style (the '{' on its own next
            # line — the C# house style in the reference's fixtures) while
            # rejecting abstract declarations and call statements
            if m and m.group(1) not in _JAVALIKE_KEYWORDS \
                    and _opens_block(lines, i):
                name, parent = m.group(1), class_ctx[-1][0]
                end = _brace_end(lines, lineno)
                body = "\n".join(lines[lineno - 1:end])
                units.append((
                    path, name, f"{parent}.{name}", "Method", lineno, end,
                    line.strip(), _doc_c_family(lines, lineno),
                    _params_javalike(m.group(2)), parent,
                    _calls_in(body, name), body, lang,
                ))
                i = end
                continue
            m = _JAVALIKE_CONST_RE.match(line)
            if m:
                units.append((
                    path, m.group(1), f"{class_ctx[-1][0]}.{m.group(1)}",
                    "Constant", lineno, lineno, None,
                    _doc_c_family(lines, lineno), [], class_ctx[-1][0], [],
                    line.strip(), lang,
                ))
        i += 1
    return units


# -- C / C++ --------------------------------------------------------------------

_C_TYPE_RE = re.compile(
    r"^\s*(?:typedef\s+)?(?:struct|class|enum|union)\s+"
    r"([A-Za-z_][A-Za-z0-9_]*)\s*(?::[^{]*)?\{?"
)
_C_DEFINE_RE = re.compile(r"^\s*#\s*define\s+([A-Za-z_][A-Za-z0-9_]*)")
# prefix (return type + qualifiers), if present, must END with a separator
# so it can never swallow the head of the function name
_C_FUNC_RE = re.compile(
    r"^(?P<prefix>[A-Za-z_][\w<>,:\s\*&~\[\]]*?[\s\*&:])?"
    r"(?P<name>~?[A-Za-z_][A-Za-z0-9_]*)\s*\("
)
_C_SCOPE_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)\s*::\s*$")
_C_KEYWORDS = frozenset(
    "if for while switch return sizeof case do else goto defined "
    "catch throw new delete static_assert".split()
)


def _opens_block(lines: list[str], idx: int) -> bool:
    """True if a ``{`` opens before any ``;`` within 3 lines of idx
    (0-based) — i.e. this is a definition, not a declaration/call."""
    for j in range(idx, min(idx + 3, len(lines))):
        s = _strip_code_line(lines[j])
        bi, si = s.find("{"), s.find(";")
        if bi >= 0 and (si < 0 or bi < si):
            return True
        if si >= 0:
            return False
    return False


def _parse_c(path: str, content: str, lang: str) -> list[tuple]:
    lines = (content or "").splitlines()
    units: list[tuple] = []
    class_ctx: list[tuple[str, int]] = []
    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        while class_ctx and lineno > class_ctx[-1][1]:
            class_ctx.pop()
        stripped = line.strip()
        m = _C_DEFINE_RE.match(line)
        if m:
            units.append((
                path, m.group(1), m.group(1), "Constant", lineno, lineno,
                None, _doc_c_family(lines, lineno), [], None, [],
                stripped, lang,
            ))
            i += 1
            continue
        m = _C_TYPE_RE.match(line)
        if m and _opens_block(lines, i):
            name = m.group(1)
            end = _brace_end(lines, lineno)
            body = "\n".join(lines[lineno - 1:end])
            units.append((
                path, name, name, "Class", lineno, end, stripped,
                _doc_c_family(lines, lineno), [], None,
                _calls_in(body, name), body, lang,
            ))
            if lang == "cpp":
                class_ctx.append((name, end))
                i += 1
            else:
                i = end
            continue
        if (stripped and not stripped.startswith(("#", "//", "*", "/*", "}"))
                and "(" in stripped):
            m = _C_FUNC_RE.match(stripped)
            if m:
                name = m.group("name")
                sm = _C_SCOPE_RE.search(m.group("prefix") or "")
                scope = sm.group(1) if sm else None
                if name not in _C_KEYWORDS and _opens_block(lines, i):
                    parent = scope or (class_ctx[-1][0] if class_ctx else None)
                    end = _brace_end(lines, lineno)
                    body = "\n".join(lines[lineno - 1:end])
                    args = _paren_group(
                        stripped, stripped.find("(", stripped.find(name)))
                    units.append((
                        path, name,
                        f"{parent}.{name}" if parent else name,
                        "Method" if parent else "Function", lineno, end,
                        stripped, _doc_c_family(lines, lineno),
                        _params_javalike(args), parent,
                        _calls_in(body, name), body, lang,
                    ))
                    i = end
                    continue
        i += 1
    return units


# -- PHP ------------------------------------------------------------------------

_PHP_FN_RE = re.compile(
    r"^\s*(?:(?:public|private|protected|static|final|abstract)\s+)*"
    r"function\s+&?([A-Za-z_][A-Za-z0-9_]*)\s*\(([^)]*)\)"
)
_PHP_CLASS_RE = re.compile(
    r"^\s*(?:final\s+|abstract\s+)?(?:class|interface|trait|enum)\s+"
    r"([A-Za-z_][A-Za-z0-9_]*)"
)
_PHP_CONST_RE = re.compile(r"^\s*const\s+([A-Z_][A-Z0-9_]*)\s*=")


def _params_php(arglist: str) -> list[str]:
    # the reference keeps the $ sigil (the tree-sitter name node text IS
    # "$name" — test_php.rs asserts "Parameters: $name")
    return re.findall(r"\$[A-Za-z_][A-Za-z0-9_]*", arglist)


def _parse_php(path: str, content: str) -> list[tuple]:
    lines = (content or "").splitlines()
    units: list[tuple] = []
    class_ctx: list[tuple[str, int]] = []
    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        while class_ctx and lineno > class_ctx[-1][1]:
            class_ctx.pop()
        m = _PHP_CLASS_RE.match(line)
        if m:
            name = m.group(1)
            end = _brace_end(lines, lineno)
            body = "\n".join(lines[lineno - 1:end])
            units.append((
                path, name, name, "Class", lineno, end, line.strip(),
                _doc_c_family(lines, lineno), [], None,
                _calls_in(body, name), body, "php",
            ))
            class_ctx.append((name, end))
            i += 1
            continue
        m = _PHP_FN_RE.match(line)
        if m:
            name = m.group(1)
            parent = class_ctx[-1][0] if class_ctx else None
            end = _brace_end(lines, lineno)
            body = "\n".join(lines[lineno - 1:end])
            units.append((
                path, name, f"{parent}.{name}" if parent else name,
                "Method" if parent else "Function", lineno, end,
                line.strip(), _doc_c_family(lines, lineno),
                _params_php(m.group(2)), parent, _calls_in(body, name),
                body, "php",
            ))
            i = end
            continue
        m = _PHP_CONST_RE.match(line)
        if m:
            parent = class_ctx[-1][0] if class_ctx else None
            units.append((
                path, m.group(1),
                f"{parent}.{m.group(1)}" if parent else m.group(1),
                "Constant", lineno, lineno, None,
                _doc_c_family(lines, lineno), [], parent, [],
                line.strip(), "php",
            ))
        i += 1
    return units


# -- Ruby (end-matched blocks) --------------------------------------------------

_RUBY_DEF_RE = re.compile(
    r"^\s*def\s+(?:self\.)?([A-Za-z_][A-Za-z0-9_]*[?!=]?)\s*(?:\(([^)]*)\))?"
)
_RUBY_CLASS_RE = re.compile(r"^\s*(?:class|module)\s+([A-Z][A-Za-z0-9_]*)")
_RUBY_CONST_RE = re.compile(r"^\s*([A-Z][A-Z0-9_]*)\s*=")
_RUBY_OPENER_RE = re.compile(
    r"^\s*(?:module|class|def|if|unless|case|while|until|for|begin)\b"
)
_RUBY_DO_RE = re.compile(r"\bdo\s*(?:\|[^|]*\|)?\s*(?:#.*)?$")


def _ruby_end(lines: list[str], start: int) -> int:
    """1-based end line of the block opened at lines[start-1]."""
    first = lines[start - 1].split("#", 1)[0]
    if re.search(r"\bend\b\s*$", first):
        return start  # one-liner: def foo; x; end
    depth = 1
    for i in range(start, len(lines)):
        code = lines[i].split("#", 1)[0]
        s = code.strip()
        if _RUBY_OPENER_RE.match(code) or _RUBY_DO_RE.search(code):
            # `x = 1 if y` modifier forms don't start the line, so this
            # only counts real block openers
            depth += 1
        if s == "end" or s.startswith(("end ", "end.", "end;")):
            depth -= 1
            if depth == 0:
                return i + 1
    return len(lines)


def _parse_ruby(path: str, content: str) -> list[tuple]:
    lines = (content or "").splitlines()
    units: list[tuple] = []
    class_ctx: list[tuple[str, int]] = []
    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        while class_ctx and lineno > class_ctx[-1][1]:
            class_ctx.pop()
        m = _RUBY_CLASS_RE.match(line)
        if m:
            name = m.group(1)
            end = _ruby_end(lines, lineno)
            body = "\n".join(lines[lineno - 1:end])
            parent = class_ctx[-1][0] if class_ctx else None
            units.append((
                path, name, f"{parent}.{name}" if parent else name, "Class",
                lineno, end, line.strip(), _doc_above(lines, lineno, "hash"),
                [], parent, _calls_in(body, name), body, "ruby",
            ))
            class_ctx.append((name, end))
            i += 1
            continue
        m = _RUBY_DEF_RE.match(line)
        if m:
            name = m.group(1)
            parent = class_ctx[-1][0] if class_ctx else None
            end = _ruby_end(lines, lineno)
            body = "\n".join(lines[lineno - 1:end])
            params = [
                p.split("=")[0].strip().lstrip("*&:")
                for p in (m.group(2) or "").split(",") if p.strip()
            ]
            units.append((
                path, name, f"{parent}.{name}" if parent else name,
                "Method" if parent else "Function", lineno, end,
                line.strip(), _doc_above(lines, lineno, "hash"),
                [p for p in params if p], parent, _calls_in(body, name),
                body, "ruby",
            ))
            i = end
            continue
        m = _RUBY_CONST_RE.match(line)
        if m:
            parent = class_ctx[-1][0] if class_ctx else None
            units.append((
                path, m.group(1),
                f"{parent}.{m.group(1)}" if parent else m.group(1),
                "Constant", lineno, lineno, None,
                _doc_above(lines, lineno, "hash"), [], parent, [],
                line.strip(), "ruby",
            ))
        i += 1
    return units


# generic keyword-fn brace-language scanner — Swift/Kotlin/Scala/Zig share
# the shape `<modifiers> KW name(params) { body }` with a type context
# (class/struct/object) whose methods nest inside braces; each spec gives
# the three declaration regexes + doc-comment style, and the shared walk
# mirrors _parse_rust (colgrep/src/parser/tests/test_{swift,kotlin,scala,
# zig}.rs unit shapes)
_KWFN_SPECS: dict[str, dict] = {
    "swift": {
        "fn": re.compile(r"\s*(?:@\w+\s+)?(?:(?:public|private|internal|open|fileprivate|static|final|override|class|mutating)\s+)*func\s+([A-Za-z_]\w*)"),
        "type": re.compile(r"\s*(?:@\w+\s+)?(?:(?:public|private|internal|open|final|indirect)\s+)*(?:class|struct|enum|protocol|extension|actor)\s+([A-Za-z_]\w*)"),
        "const": re.compile(r"\s*(?:(?:public|private|internal|static)\s+)*let\s+([A-Z][A-Za-z0-9_]*)\s*[:=]"),
        "doc": "rust",
    },
    "kotlin": {
        "fn": re.compile(r"\s*(?:@\w+\s+)?(?:(?:public|private|internal|protected|open|override|suspend|inline|operator|infix|tailrec)\s+)*fun\s+(?:<[^>]*>\s+)?(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)"),
        "type": re.compile(r"\s*(?:@\w+\s+)?(?:(?:public|private|internal|abstract|open|sealed|data|final|annotation|inner)\s+)*(?:class|object|interface)\s+([A-Za-z_]\w*)"),
        "const": re.compile(r"\s*(?:(?:public|private|internal)\s+)?(?:const\s+)?val\s+([A-Z][A-Z0-9_]*)\s*[:=]"),
        "doc": "jsline",
    },
    "scala": {
        "fn": re.compile(r"\s*(?:(?:override|private|protected|final|implicit|lazy)\s+)*def\s+([A-Za-z_]\w*)"),
        "type": re.compile(r"\s*(?:(?:abstract|final|sealed|case|implicit)\s+)*(?:class|object|trait)\s+([A-Za-z_]\w*)"),
        "const": re.compile(r"\s*(?:(?:private|protected|final|lazy)\s+)*val\s+([A-Z][A-Za-z0-9_]*)\s*[:=]"),
        "doc": "jsline",
    },
    "zig": {
        "fn": re.compile(r"\s*(?:pub\s+)?(?:export\s+)?(?:extern\s+)?(?:inline\s+)?fn\s+([A-Za-z_]\w*)"),
        "type": re.compile(r"\s*(?:pub\s+)?const\s+([A-Z]\w*)\s*=\s*(?:packed\s+|extern\s+)?(?:struct|enum|union|opaque)\b"),
        "const": re.compile(r"\s*(?:pub\s+)?const\s+([A-Z][A-Z0-9_]*)\s*[:=]"),
        "doc": "rust",
    },
}


def _parse_kwfn(path: str, content: str, lang: str) -> list[tuple]:
    spec = _KWFN_SPECS[lang]
    lines = (content or "").splitlines()
    units: list[tuple] = []
    type_ctx: list[tuple[str, int]] = []
    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        while type_ctx and lineno > type_ctx[-1][1]:
            type_ctx.pop()
        m = spec["type"].match(line)
        if m:
            name = m.group(1)
            end = _brace_end(lines, lineno) if "{" in _strip_code_line(line) else lineno
            body = "\n".join(lines[lineno - 1:end])
            units.append((
                path, name, name, "Class", lineno, end, line.strip(),
                _doc_above(lines, lineno, spec["doc"]), [], None,
                _calls_in(body, name), body, lang,
            ))
            if end > lineno:
                type_ctx.append((name, end))
            i += 1
            continue
        m = spec["fn"].match(line)
        if m:
            name = m.group(1)
            end = _brace_end(lines, lineno) if "{" in _strip_code_line(line) else lineno
            body = "\n".join(lines[lineno - 1:end])
            parent = type_ctx[-1][0] if type_ctx else None
            units.append((
                path, name, f"{parent}.{name}" if parent else name,
                "Method" if parent else "Function", lineno, end,
                line.strip(), _doc_above(lines, lineno, spec["doc"]),
                _params_rust(line), parent, _calls_in(body, name), body, lang,
            ))
            i = end if end > lineno else i + 1
            continue
        m = spec["const"].match(line)
        if m and not type_ctx:
            units.append((
                path, m.group(1), m.group(1), "Constant", lineno, lineno, None,
                _doc_above(lines, lineno, spec["doc"]), [], None, [],
                line.strip(), lang,
            ))
        i += 1
    return units


# generic `end`-terminated-block scanner — Lua/Julia/Elixir share Ruby's
# block discipline (opener keyword … `end`); each spec gives the fn/type/
# const regexes, the opener regex that consumes a matching `end`, comment
# marker, and doc style (colgrep/src/parser/tests/test_{lua,julia,elixir}.rs
# unit shapes)
_ENDFN_SPECS: dict[str, dict] = {
    "lua": {
        "fn": re.compile(r"^\s*(?:local\s+)?function\s+(?:([A-Za-z_]\w*)[.:])?([A-Za-z_]\w*)\s*\(([^)]*)\)"),
        "type": None,
        "const": re.compile(r"^\s*([A-Z][A-Z0-9_]*)\s*="),
        "opener": re.compile(r"^\s*(?:local\s+function|function|if|for|while|do)\b|\bthen\s*$|\bdo\s*$|=\s*function\b"),
        "comment": "--",
        "doc": "dash",
    },
    "julia": {
        "fn": re.compile(r"^\s*function\s+(?:([A-Za-z_]\w*)\.)?([A-Za-z_]\w*!?)\s*\(([^)]*)\)?"),
        "type": re.compile(r"^\s*(?:mutable\s+)?struct\s+([A-Za-z_]\w*)|^\s*module\s+([A-Za-z_]\w*)"),
        "const": re.compile(r"^\s*const\s+([A-Z][A-Z0-9_]*)\s*="),
        "opener": re.compile(r"^\s*(?:function|if|for|while|begin|let|try|do|quote|macro|module|(?:mutable\s+)?struct)\b"),
        "comment": "#",
        "doc": "hash",
    },
    "elixir": {
        "fn": re.compile(r"^\s*defp?\s+([A-Za-z_]\w*[?!]?)\s*(?:\(([^)]*)\))?.*\bdo\s*$"),
        "type": re.compile(r"^\s*defmodule\s+([A-Za-z_][\w.]*)\s+do"),
        "const": re.compile(r"^\s*@([a-z_]\w*)\s+(?!moduledoc|doc\b)\S"),
        "opener": re.compile(r"\bdo\s*$"),
        "comment": "#",
        "doc": "hash",
    },
}


def _end_block(lines: list[str], start: int, spec: dict) -> int:
    """1-based end line of the `end`-terminated block opened at start."""
    comment = spec["comment"]
    first = lines[start - 1].split(comment, 1)[0]
    if re.search(r"\bend\b\s*$", first):
        return start
    depth = 1
    for i in range(start, len(lines)):
        code = lines[i].split(comment, 1)[0]
        s = code.strip()
        if spec["opener"].search(code) and not re.search(r"\bend\b", s):
            depth += 1
        if s == "end" or s.startswith(("end ", "end.", "end;", "end)")):
            depth -= 1
            if depth == 0:
                return i + 1
    return len(lines)


def _parse_endfn(path: str, content: str, lang: str) -> list[tuple]:
    spec = _ENDFN_SPECS[lang]
    lines = (content or "").splitlines()
    units: list[tuple] = []
    type_ctx: list[tuple[str, int]] = []
    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        while type_ctx and lineno > type_ctx[-1][1]:
            type_ctx.pop()
        if spec["type"] is not None:
            m = spec["type"].match(line)
            if m:
                name = next(g for g in m.groups() if g)
                end = _end_block(lines, lineno, spec)
                body = "\n".join(lines[lineno - 1:end])
                units.append((
                    path, name, name, "Class", lineno, end, line.strip(),
                    _doc_above(lines, lineno, spec["doc"]), [], None,
                    _calls_in(body, name), body, lang,
                ))
                type_ctx.append((name, end))
                i += 1
                continue
        m = spec["fn"].match(line)
        if m:
            groups = m.groups()
            if lang == "elixir":
                recv, name, args = None, groups[0], groups[1]
            else:
                recv, name, args = groups[0], groups[1], groups[2]
            parent = recv or (type_ctx[-1][0] if type_ctx else None)
            end = _end_block(lines, lineno, spec)
            body = "\n".join(lines[lineno - 1:end])
            params = [p.split("=")[0].split(":")[0].strip().lstrip("\\& ")
                      for p in (args or "").split(",") if p.strip()]
            params = [p for p in params if p and p != "self"]
            units.append((
                path, name, f"{parent}.{name}" if parent else name,
                "Method" if parent else "Function", lineno, end,
                line.strip(), _doc_above(lines, lineno, spec["doc"]),
                params, parent, _calls_in(body, name), body, lang,
            ))
            i = end
            continue
        m = spec["const"].match(line)
        if m and (lang == "elixir" or not type_ctx):
            name = m.group(1)
            parent = type_ctx[-1][0] if type_ctx else None
            units.append((
                path, name, f"{parent}.{name}" if parent else name,
                "Constant", lineno, lineno, None,
                _doc_above(lines, lineno, spec["doc"]), [], parent, [],
                line.strip(), lang,
            ))
        i += 1
    return units


_SQL_DDL_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?"
    r"(TABLE|VIEW|MATERIALIZED\s+VIEW|FUNCTION|PROCEDURE|INDEX|TRIGGER)\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?[`\"']?([A-Za-z_][\w.]*)",
    re.IGNORECASE,
)


def _parse_sql(path: str, content: str) -> list[tuple]:
    """SQL statements as RawCode units (test_sql.rs, all 10 tests:
    ``build_embedding_text`` of a SQL unit is the statement text itself,
    leading ``--`` comments included — the reference's SQL grammar yields
    no typed header). Each unit runs from its first line (a comment block
    or the statement head) through the terminating ``;``."""
    lines = (content or "").splitlines()
    units: list[tuple] = []
    i = 0
    n = len(lines)
    while i < n:
        if not lines[i].strip():
            i += 1
            continue
        start = i
        j = i
        while j < n:
            s = ("" if lines[j].lstrip().startswith("--")
                 else lines[j].split("--", 1)[0])
            if ";" in s:
                break
            j += 1
        end = min(j + 1, n)
        code = "\n".join(lines[start:end]).rstrip()
        head = next((ln for ln in lines[start:end]
                     if ln.strip() and not ln.lstrip().startswith("--")), "")
        m = _SQL_DDL_RE.match(head)
        name = (m.group(2).split(".")[-1].strip("`\"'") if m
                else (head.split() or ["sql"])[0].lower())
        units.append((
            path, name, name, "RawCode", start + 1, end, None, None, [],
            None, [], code, "sql",
        ))
        i = end
    return units


_CSS_RULE_RE = re.compile(r"^\s*([^{@/][^{]*?)\s*\{")
_CSS_AT_RE = re.compile(r"^\s*@(media|keyframes|supports|font-face)\b([^{]*)\{")
# brace-less at-statements (@charset/@import/@namespace …;) are Constant
# units named by the at-keyword alone (test_css.rs::
# test_at_import_and_charset_become_constants)
_CSS_AT_STMT_RE = re.compile(r"^\s*(@[A-Za-z-]+)\b[^{]*;\s*$")


def _parse_css(path: str, content: str) -> list[tuple]:
    """CSS rules: each top-level selector block / at-rule is one unit
    (test_css.rs shapes)."""
    lines = (content or "").splitlines()
    units: list[tuple] = []
    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        m = _CSS_AT_STMT_RE.match(line)
        if m:
            units.append((
                path, m.group(1), m.group(1), "Constant", lineno, lineno,
                line.strip(), None, [], None, [], line.strip(), "css",
            ))
            i += 1
            continue
        m = _CSS_AT_RE.match(line) or _CSS_RULE_RE.match(line)
        if m and "{" in line:
            name = " ".join(m.group(0).rstrip("{").split())
            end = _brace_end(lines, lineno)
            units.append((
                path, name[:80], name[:80], "RawCode", lineno, end,
                line.strip(), None, [], None, [],
                "\n".join(lines[lineno - 1:end]), "css",
            ))
            i = end
            continue
        i += 1
    return units


# layout-based top-level declarations — Haskell/OCaml have no block
# delimiters; a unit runs from its declaration line to the line before the
# next top-level declaration (test_{haskell,ocaml}.rs shapes)
_HS_SIG_RE = re.compile(r"^([a-z_][A-Za-z0-9_']*)\s*::")
_HS_EQ_RE = re.compile(r"^([a-z_][A-Za-z0-9_']*)\s+[^=]*=|^([a-z_][A-Za-z0-9_']*)\s*=")
_HS_TYPE_RE = re.compile(r"^(?:data|newtype|type|class)\s+([A-Z][A-Za-z0-9_']*)")
_ML_LET_RE = re.compile(r"^let\s+(?:rec\s+)?([a-z_][A-Za-z0-9_']*)((?:\s+[a-z_(][\w()':,.\[\]]*)*)\s*=")
_ML_TYPE_RE = re.compile(r"^(?:type|module)\s+(?:rec\s+)?([A-Za-z_][A-Za-z0-9_']*)")


def _toplevel_end(lines: list[str], start: int, decl_res: list) -> int:
    """Last 1-based line of the unit starting at ``start``: scan until the
    next top-level declaration, then trim trailing blanks."""
    end = len(lines)
    for j in range(start, len(lines)):
        s = lines[j]
        if s and not s[0].isspace() and any(rx.match(s) for rx in decl_res):
            end = j
            break
    while end > start and not lines[end - 1].strip():
        end -= 1
    return end


def _ml_doc_above(lines: list[str], start: int) -> str | None:
    """OCaml `(** … *)` doc block ending on the line above."""
    i = start - 2
    if i < 0 or not lines[i].strip().endswith("*)"):
        return None
    doc: list[str] = []
    while i >= 0:
        t = lines[i].strip()
        doc.append(re.sub(r"\(\*+\s?|\s*\*+\)", "", t).strip())
        if t.startswith("(*"):
            break
        i -= 1
    return " ".join(x for x in reversed(doc) if x).strip() or None


_HS_SKIP_KW = frozenset(
    "import module infix infixl infixr foreign where deriving".split())


def _parse_haskell(path: str, content: str) -> list[tuple]:
    """Fixture-pinned Haskell shapes (test_haskell.rs, all 10 tests):
    type signatures (`name :: …`) are SKIPPED — a Function unit is one
    equation clause (signature = the clause line) plus its indented
    continuation lines (guards, where blocks); `data`/`type`/`class`
    blocks coalesce into RawCode (embed text = the code verbatim);
    `newtype` is a Class; `instance` bodies surface their indented
    equations as Function units while the header stays RawCode. The
    reference extracts neither parameters nor calls for Haskell."""
    lines = (content or "").splitlines()
    units: list[tuple] = []
    raw: list[tuple[int, str]] = []  # pending (lineno, line) RawCode run
    raw_name: str | None = None

    def cont_end(i: int) -> int:
        """1-based end line: the opener plus its indented continuations."""
        last = i + 1
        j = i + 1
        while j < len(lines):
            s = lines[j]
            if s and not s[0].isspace():
                break
            if s.strip():
                last = j + 1
            j += 1
        return last

    def flush_raw() -> None:
        nonlocal raw, raw_name
        if raw:
            units.append((
                path, raw_name or "code", raw_name or "code", "RawCode",
                raw[0][0], raw[-1][0], None, None, [], None, [],
                "\n".join(x[1] for x in raw), "haskell",
            ))
        raw, raw_name = [], None

    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        if not line.strip() or line[0].isspace():
            i += 1
            continue
        first_word = line.split()[0]
        if first_word in _HS_SKIP_KW or _HS_SIG_RE.match(line):
            flush_raw()
            i += 1
            continue
        m = re.match(r"^newtype\s+([A-Z][A-Za-z0-9_']*)", line)
        if m:
            flush_raw()
            end = cont_end(i)
            units.append((
                path, m.group(1), m.group(1), "Class", lineno, end,
                line.strip(), None, [], None, [],
                "\n".join(lines[i:end]), "haskell",
            ))
            i = end
            continue
        if re.match(r"^(?:data|type|class)\b", line):
            end = cont_end(i)
            if raw_name is None:
                m2 = re.match(
                    r"^(?:data|type|class)\s+"
                    r"(?:[A-Z][\w']*(?:\s+[a-z][\w']*)*\s*=>\s*)?"
                    r"([A-Z][A-Za-z0-9_']*)", line)
                raw_name = m2.group(1) if m2 else first_word
            for j in range(i, end):
                raw.append((j + 1, lines[j]))
            i = end
            continue
        if first_word == "instance":
            flush_raw()
            end = cont_end(i)
            header = [lines[i]]
            for j in range(i + 1, end):
                s = lines[j]
                eq = re.match(r"^\s+([a-z_][A-Za-z0-9_']*)\b.*=", s)
                if eq:
                    units.append((
                        path, eq.group(1), eq.group(1), "Function",
                        j + 1, j + 1, s.strip(), None, [], None, [],
                        s, "haskell",
                    ))
                else:
                    header.append(s)
            name = re.sub(r"^instance\s+|\s+where\s*$", "",
                          lines[i].strip()) or "instance"
            # range spans the lines the header RawCode actually kept
            # (the whole block when non-equation body lines rode along)
            hdr_end = lineno if len(header) == 1 else end
            units.append((
                path, name, name, "RawCode", lineno, hdr_end, None, None,
                [], None, [], "\n".join(header).rstrip(), "haskell",
            ))
            i = end
            continue
        m = re.match(r"^([a-z_][A-Za-z0-9_']*)\b", line)
        if m:
            # one equation clause per unit: the clause line plus indented
            # continuations; the next column-0 line (even a same-name
            # clause) starts a new unit
            flush_raw()
            end = cont_end(i)
            units.append((
                path, m.group(1), m.group(1), "Function", lineno, end,
                line.strip(), None, [], None, [],
                "\n".join(lines[i:end]), "haskell",
            ))
            i = end
            continue
        flush_raw()
        i += 1
    flush_raw()
    return units


_ML_LET_LINE_RE = re.compile(
    r"^(let\s+(?:rec\s+)?|and\s+)([a-z_][A-Za-z0-9_']*)(.*)$")
_ML_KEYWORDS = frozenset(
    "let rec in if then else match with function fun and not when as of "
    "begin end do done while for to downto true false open module type "
    "struct sig val mutable raise try new assert lazy".split())


def _ml_params(rest: str) -> list[str]:
    """Parameters from the text between a let-binding's name and its first
    depth-0 `=`: parenthesized typed patterns keep the inner name
    (`(a : int)` → a), bare lowercase tokens are names, a depth-0 `:`
    starts the return-type annotation (dropped) — test_ocaml.rs shapes."""
    seg, depth = "", 0
    for ch in rest:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(depth - 1, 0)
        elif ch == "=" and depth == 0:
            break
        seg += ch
    out = [m.group(1) for m in re.finditer(r"\(\s*([a-z_][\w']*)\s*:", seg)]
    bare = re.sub(r"\([^)]*\)", " ", seg).split(":")[0]
    out += [t for t in bare.split()
            if re.fullmatch(r"[a-z_][\w']*", t) and t not in _ML_KEYWORDS]
    return out


def _calls_in_ml(body: str) -> list[str]:
    """OCaml applications are juxtaposition — an identifier (optionally
    module-qualified, `Printf.printf`) followed by an argument-looking
    token is a call; the declaration head before the first `=` never is.
    Self-calls are kept (test_ocaml.rs::test_recursive_function asserts
    `Calls: factorial`)."""
    out: set[str] = set()
    for idx, ln in enumerate((body or "").splitlines()):
        s = re.sub(r'"(?:\\.|[^"\\])*"', '""', ln)
        s = re.sub(r"\(\*.*?\*\)", " ", s)
        if idx == 0:
            p = s.find("=")
            s = s[p + 1:] if p >= 0 else ""
        for m in re.finditer(
                r"\b(?:[A-Z][\w']*\.)?([a-z_][\w']*)\s+(?=[\w(\"'])", s):
            name = m.group(1)
            if name not in _ML_KEYWORDS:
                out.add(name)
    return sorted(out)


def _parse_ocaml(path: str, content: str) -> list[tuple]:
    """Fixture-pinned OCaml shapes (test_ocaml.rs, all 12 tests):
    top-level `let`/`and` bindings are Functions (params via _ml_params;
    `= function` bodies are parameterless Functions), `(** … *)` docs
    attach, calls come from juxtaposed application (_calls_in_ml, incl.
    self- and qualified calls), mutually-recursive `and` clauses split
    into separate units, and `module … = struct` extracts its indented
    lets as Functions with their indentation preserved."""
    lines = (content or "").splitlines()
    decl_res = [_ML_LET_LINE_RE, _ML_TYPE_RE,
                re.compile(r"^(?:open|exception|and\b)")]
    units: list[tuple] = []

    def emit_let(i: int, end: int, raw_name: str, rest: str,
                 sig_line: str) -> None:
        lineno = i + 1
        body = "\n".join(lines[i:end])
        params = _ml_params(rest)
        rhs = rest.split("=", 1)[1].lstrip() if "=" in rest else ""
        is_fn = bool(params) or rhs.startswith(("function", "fun ", "fun("))
        units.append((
            path, raw_name, raw_name, "Function" if is_fn else "Constant",
            lineno, end, sig_line.strip(),
            _ml_doc_above(lines, lineno), params, None,
            _calls_in_ml(body), body, "ocaml",
        ))

    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        m = _ML_TYPE_RE.match(line)
        if m:
            end = _toplevel_end(lines, lineno, decl_res)
            units.append((
                path, m.group(1), m.group(1), "Class", lineno, end,
                line.strip(), _ml_doc_above(lines, lineno), [], None, [],
                "\n".join(lines[lineno - 1:end]), "ocaml",
            ))
            # module body: indented lets are units of their own, code
            # keeping the struct indentation (test_module_definition)
            if re.search(r"=\s*struct\s*$", line.rstrip()):
                j = i + 1
                while j < end:
                    mm = re.match(
                        r"^(\s+)let\s+(?:rec\s+)?([a-z_][\w']*)(.*)$",
                        lines[j])
                    if mm:
                        k = j + 1
                        while k < end and not re.match(
                                r"^\s*(?:let\b|end\b)", lines[k]) \
                                and lines[k].strip():
                            k += 1
                        # trim trailing blanks
                        kk = k
                        while kk > j + 1 and not lines[kk - 1].strip():
                            kk -= 1
                        # code slice keeps indentation
                        body = "\n".join(lines[j:kk])
                        params = _ml_params(mm.group(3))
                        rhs = (mm.group(3).split("=", 1)[1].lstrip()
                               if "=" in mm.group(3) else "")
                        is_fn = bool(params) or rhs.startswith(
                            ("function", "fun ", "fun("))
                        units.append((
                            path, mm.group(2), mm.group(2),
                            "Function" if is_fn else "Constant",
                            j + 1, kk, lines[j].strip(), None, params,
                            None, _calls_in_ml(body), body, "ocaml",
                        ))
                        j = k
                        continue
                    j += 1
            i = end
            continue
        m = _ML_LET_LINE_RE.match(line)
        if m:
            end = _toplevel_end(lines, lineno, decl_res)
            emit_let(i, end, m.group(2), m.group(3), line)
            i = end
            continue
        i += 1
    return units


_SCRIPT_OPEN_RE = re.compile(r"<script[^>]*>", re.IGNORECASE)
_SCRIPT_CLOSE_RE = re.compile(r"</script>", re.IGNORECASE)


_TEMPLATE_OPEN_RE = re.compile(r"<template[^>]*>", re.IGNORECASE)
_TEMPLATE_CLOSE_RE = re.compile(r"</template>", re.IGNORECASE)
_SFC_DECL_RE = re.compile(
    r"^\s*(?:export\s+)?(?:const|let|var)\s+([A-Za-z_$][\w$]*)")


def _parse_embedded_script(path: str, content: str, lang: str) -> list[tuple]:
    """Vue/Svelte SFCs (and HTML): extract the <script> block, parse it
    with the JS/TS scanner at the correct line offsets, and relabel the
    language — the reference routes both through its javascript grammar.

    Fixture-pinned SFC shapes (test_{vue,svelte}.rs): object-literal
    methods (``data() {`` inside the options object) are Function units;
    every ``const``/``let``/``export let`` declaration line — top-level or
    nested — is a Constant unit whose code is the RAW line (embed text =
    the line verbatim); markup outside the script becomes a RawCode unit
    (Vue: the <template> inner lines without the tags; Svelte: the bare
    markup region including its tags)."""
    lines = (content or "").splitlines()
    out: list[tuple] = []
    sfc = lang in ("vue", "svelte")
    script_spans: list[tuple[int, int]] = []  # 0-based (open_tag, close_tag)
    i = 0
    while i < len(lines):
        if _SCRIPT_OPEN_RE.search(lines[i]):
            j = i + 1
            while j < len(lines) and not _SCRIPT_CLOSE_RE.search(lines[j]):
                j += 1
            script_spans.append((i, j))
            block_lines = lines[i + 1:j]
            block = "\n".join(block_lines)
            parsed = (_parse_ts if sfc else _parse_js)(path, block)
            if sfc:
                # SCREAMING_CASE constants re-emitted below with raw-line
                # code (the SFC fixtures pin the unstripped line)
                parsed = [t for t in parsed if t[3] != "Constant"]
            spans = [(t[4], t[5]) for t in parsed]
            starts = {t[4] for t in parsed}
            for t in parsed:
                out.append(t[:4] + (t[4] + i + 1, t[5] + i + 1) + t[6:12]
                           + (lang,))
            if sfc:
                for li, bl in enumerate(block_lines):
                    local = li + 1
                    # object-literal methods outside any extracted unit
                    if not any(a <= local <= b for a, b in spans):
                        mm = _JS_METHOD_RE.match(bl)
                        if mm and mm.group(1) not in _JS_KEYWORD_NOT_METHOD:
                            end = _brace_end(block_lines, local)
                            body = "\n".join(block_lines[li:end])
                            # TS generic calls (`ref<User>(…)`) still count
                            calls_src = re.sub(
                                r"<[A-Za-z_$][\w$,.\s<>\[\]]*>\(", "(", body)
                            out.append((
                                path, mm.group(1), mm.group(1), "Function",
                                local + i + 1, end + i + 1, bl.strip(),
                                _doc_above(block_lines, local, "js"),
                                _params_js(bl), None,
                                _calls_in(calls_src, mm.group(1)), body,
                                lang,
                            ))
                            spans.append((local, end))
                            continue
                    # declaration lines → Constant units with the RAW line,
                    # nested ones included (test_vue.rs script_with_typescript
                    # pins the const inside setup())
                    md = _SFC_DECL_RE.match(bl)
                    if md and "=" in bl and local not in starts \
                            and not _JS_ARROW_RE.match(bl) \
                            and not _JS_FNEXPR_RE.match(bl) \
                            and not _TS_ARROW_RE.match(bl):
                        out.append((
                            path, md.group(1), md.group(1), "Constant",
                            local + i + 1, local + i + 1, None, None, [],
                            None, [], bl, lang,
                        ))
            i = j + 1
            continue
        i += 1
    if sfc and lang == "vue":
        # <template> inner lines (tags excluded), one RawCode unit
        for i, ln in enumerate(lines):
            if _TEMPLATE_OPEN_RE.search(ln):
                j = i + 1
                while j < len(lines) and not _TEMPLATE_CLOSE_RE.search(lines[j]):
                    j += 1
                inner = lines[i + 1:j]
                lead = 0
                while inner and not inner[0].strip():
                    inner.pop(0)
                    lead += 1
                while inner and not inner[-1].strip():
                    inner.pop()
                if inner:
                    start = i + 2 + lead
                    out.append((
                        path, "template", "template", "RawCode", start,
                        start + len(inner) - 1, None, None, [], None, [],
                        "\n".join(inner), lang,
                    ))
                break
    elif sfc:
        # svelte: bare markup regions outside the script, tags included
        in_script = set()
        for a, b in script_spans:
            in_script.update(range(a, b + 1))
        region: list[tuple[int, str]] = []

        def flush_region():
            nonlocal region
            while region and not region[0][1].strip():
                region.pop(0)
            while region and not region[-1][1].strip():
                region.pop()
            if region:
                out.append((
                    path, "markup", "markup", "RawCode", region[0][0] + 1,
                    region[-1][0] + 1, None, None, [], None, [],
                    "\n".join(r[1] for r in region), lang,
                ))
            region = []

        for k, ln in enumerate(lines):
            if k in in_script:
                flush_region()
            else:
                region.append((k, ln))
        flush_region()
    return out


# text/config formats — ONE Document unit per file (name = file stem,
# signature = first non-empty line, docstring = first paragraph ≤ 5 lines),
# exactly the reference's extract_text_units shape
# (colgrep/src/parser/text.rs:7-123; format list: types.rs:36-47,
# language.rs detect_language/is_text_format). These are first-class
# language labels so path filters and ranking penalties see the same
# languages as the reference, instead of collapsing to RawCode/unknown.
def _parse_text_doc(path: str, content: str, lang: str) -> list[tuple]:
    lines = (content or "").splitlines()
    if not lines or all(not ln.strip() for ln in lines):
        return []
    stem = path.rsplit("/", 1)[-1].rsplit(".", 1)[0] or "document"
    signature = next((ln.strip() for ln in lines if ln.strip()), "")
    para = []
    for ln in lines:
        if not ln.strip():
            break
        para.append(ln.strip())
        if len(para) >= 5:
            break
    return [(
        path, stem, f"{path}::{stem}", "Document", 1, len(lines),
        signature, " ".join(para) or None, [], None, [],
        "\n".join(lines), lang,
    )]


def _parse_html(path: str, content: str) -> list[tuple]:
    """<script> blocks through the JS scanner + the whole file as a
    searchable RawCode unit (colgrep/src/parser/html.rs:1-6: script
    content via the javascript parser, HTML structure as RawCode)."""
    units = _parse_embedded_script(path, content, "html")
    lines = (content or "").count("\n") + 1
    units.append((
        path, path.rsplit("/", 1)[-1], path, "RawCode", 1, lines,
        None, None, [], None, [], content, "html",
    ))
    return units


# R — assignment-bound functions, no classes (the reference's R grammar
# extracts function_definition nodes and treats left/equals assignments as
# variables; "R doesn't have traditional classes", colgrep/src/parser/
# ast.rs:31,100,149; detect: language.rs:41 maps .r/.rmd → R;
# test shape: test_core.rs:195-215)
_R_FN_RE = re.compile(
    r"^\s*([A-Za-z.][\w.]*)\s*(?:<<?-|=)\s*function\s*\(([^)]*)\)?"
)
_R_CONST_RE = re.compile(r"^\s*([A-Z][A-Z0-9._]*)\s*(?:<<?-|=)\s*\S")
_R_IMPORT_RE = re.compile(
    r"""^\s*(?:library|require)\s*\(\s*['"]?([A-Za-z.][\w.]*)['"]?\s*\)"""
)


def _parse_r(path: str, content: str) -> list[tuple]:
    lines = (content or "").splitlines()
    units: list[tuple] = []
    depth = 0
    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        code = _strip_code_line(line)
        m = _R_FN_RE.match(line)
        if m and depth == 0:
            name = m.group(1)
            end = _brace_end(lines, lineno) if "{" in code else lineno
            body = "\n".join(lines[lineno - 1:end])
            units.append((
                path, name, name, "Function", lineno, end, line.strip(),
                _doc_above(lines, lineno, "rhash"),
                [p.split("=")[0].strip() for p in m.group(2).split(",")
                 if p.split("=")[0].strip()],
                None, _calls_in(body, name), body, "r",
            ))
            i = end if end > lineno else i + 1
            continue
        m = _R_CONST_RE.match(line)
        if m and depth == 0 and "function" not in code:
            units.append((
                path, m.group(1), m.group(1), "Constant", lineno, lineno,
                None, _doc_above(lines, lineno, "rhash"), [], None, [],
                line.strip(), "r",
            ))
        depth += code.count("{") - code.count("}")
        depth = max(depth, 0)
        i += 1
    return units


# QML — object tree with embedded JS functions (the reference parses with
# tree-sitter-qmljs and routes function bodies through its TypeScript
# analysis: colgrep/src/parser/qml.rs:1-30; unit shapes from
# parser/tests/test_qml.rs: root objects and inline components are Class
# units whose variables are their direct ids/property names; functions and
# signals are Methods of the enclosing object; properties are Constants)
_QML_COMPONENT_RE = re.compile(r"^\s*component\s+([A-Z]\w*)\s*:\s*([A-Z]\w*)\s*\{")
_QML_OBJ_RE = re.compile(r"^\s*([A-Z][\w.]*)\s*\{\s*$")
_QML_GROUP_RE = re.compile(r"^\s*([a-z]\w*)\s*\{\s*$")
_QML_HANDLER_RE = re.compile(r"^\s*(on[A-Z]\w*)\s*:\s*\{")
_QML_FN_RE = re.compile(r"^\s*function\s+([A-Za-z_]\w*)\s*\(([^)]*)\)")
_QML_SIGNAL_RE = re.compile(r"^\s*signal\s+([A-Za-z_]\w*)\s*(?:\(([^)]*)\))?")
_QML_PROP_RE = re.compile(
    r"^\s*(?:required\s+|readonly\s+|default\s+)*property\s+"
    r"(\w+(?:<[^>]*>)?)\s+([A-Za-z_]\w*)"
)


def _parse_qml(path: str, content: str) -> list[tuple]:
    lines = (content or "").splitlines()
    units: list[tuple] = []
    # stack of (name or None, opening_brace_depth, is_unit)
    ctx: list[tuple] = []
    depth = 0
    i = 0
    while i < len(lines):
        lineno = i + 1
        line = lines[i]
        code = _strip_code_line(line)
        mc = _QML_COMPONENT_RE.match(line)
        mo = None if mc else _QML_OBJ_RE.match(line)
        mg = None
        if not (mc or mo) and ctx:
            # grouped-binding notation (`icon { … }` inside an object) is
            # a nested object too (test_qml.rs::
            # test_extract_grouped_binding_notation_as_nested_object)
            mg = _QML_GROUP_RE.match(line)
            if mg and mg.group(1) in ("else", "try", "do", "finally"):
                mg = None
        if mc or mo or mg:
            name = (mc or mo or mg).group(1)
            # every object node is a unit — roots, nested objects, inline
            # components, grouped bindings (test_qml.rs asserts nested
            # PwObjectTracker and grouped `icon` as Class units); only the
            # component's base TYPE (`: Rectangle`) never duplicates
            end = _brace_end(lines, lineno)
            parent = next(
                (c[0] for c in reversed(ctx) if c[2]), None
            )
            units.append((
                path, name,
                f"{parent}.{name}" if parent else name, "Class",
                lineno, end, line.strip(),
                _doc_above(lines, lineno, "js")
                or _doc_above(lines, lineno, "line"),
                [], parent, [],
                "\n".join(lines[lineno - 1:end]), "qml",
            ))
            ctx.append((name, depth, True))
            depth += 1
            i += 1
            continue
        owner = next((c[0] for c in reversed(ctx) if c[2]), None)
        m = _QML_HANDLER_RE.match(line)
        if m and owner:
            # handler bindings (`onTriggered: { … }`) are Methods of the
            # enclosing object (test_qml.rs::
            # test_extract_handler_binding_as_method)
            end = _brace_end(lines, lineno) if "{" in code else lineno
            body = "\n".join(lines[lineno - 1:end])
            units.append((
                path, m.group(1), f"{owner}.{m.group(1)}", "Method",
                lineno, end, line.strip(),
                _doc_above(lines, lineno, "line"), [], owner,
                _calls_in(body, m.group(1)), body, "qml",
            ))
            i = end if end > lineno else i + 1
            continue
        m = _QML_FN_RE.match(line)
        if m and owner:
            end = _brace_end(lines, lineno) if "{" in code else lineno
            body = "\n".join(lines[lineno - 1:end])
            units.append((
                path, m.group(1), f"{owner}.{m.group(1)}", "Method",
                lineno, end, line.strip(),
                _doc_above(lines, lineno, "js")
                or _doc_above(lines, lineno, "line"),
                _params_js(line), owner, _calls_in(body, m.group(1)),
                body, "qml",
            ))
            i = end if end > lineno else i + 1
            continue
        m = _QML_SIGNAL_RE.match(line)
        if m and owner:
            # signal params keep their full "name: type" text
            # (test_qml.rs asserts parameters == ["next: bool"])
            params = [p.strip() for p in (m.group(2) or "").split(",")
                      if p.strip()]
            units.append((
                path, m.group(1), f"{owner}.{m.group(1)}", "Method",
                lineno, lineno, line.strip(),
                _doc_above(lines, lineno, "line"), params, owner, [],
                line.strip(), "qml",
            ))
            i += 1
            continue
        m = _QML_PROP_RE.match(line)
        if m:
            # Constant unit; the declared type rides the signature (the
            # 13-tuple has no return_type slot)
            units.append((
                path, m.group(2),
                f"{owner}.{m.group(2)}" if owner else m.group(2),
                "Constant", lineno, lineno, line.strip(),
                _doc_above(lines, lineno, "line"), [], owner, [],
                line.strip(), "qml",
            ))
            i += 1
            continue
        depth += code.count("{")
        for _ in range(code.count("}")):
            depth -= 1
            if ctx and ctx[-1][1] == depth:
                ctx.pop()
        i += 1
    return units


_EXT_PARSERS = {
    ".rs": ("rust", _parse_rust),
    ".js": ("javascript", _parse_js),
    ".mjs": ("javascript", _parse_js),
    ".jsx": ("javascript", _parse_js),
    ".ts": ("typescript", _parse_ts),
    ".tsx": ("typescript", _parse_ts),
    ".mts": ("typescript", _parse_ts),
    ".go": ("go", _parse_go),
    ".java": ("java", lambda p, c: _parse_javalike(p, c, "java")),
    ".cs": ("csharp", lambda p, c: _parse_javalike(p, c, "csharp")),
    ".c": ("c", lambda p, c: _parse_c(p, c, "c")),
    ".h": ("c", lambda p, c: _parse_c(p, c, "c")),
    ".cpp": ("cpp", lambda p, c: _parse_c(p, c, "cpp")),
    ".cc": ("cpp", lambda p, c: _parse_c(p, c, "cpp")),
    ".hpp": ("cpp", lambda p, c: _parse_c(p, c, "cpp")),
    ".cxx": ("cpp", lambda p, c: _parse_c(p, c, "cpp")),
    ".php": ("php", _parse_php),
    ".rb": ("ruby", _parse_ruby),
    ".swift": ("swift", lambda p, c: _parse_kwfn(p, c, "swift")),
    ".kt": ("kotlin", lambda p, c: _parse_kwfn(p, c, "kotlin")),
    ".kts": ("kotlin", lambda p, c: _parse_kwfn(p, c, "kotlin")),
    ".scala": ("scala", lambda p, c: _parse_kwfn(p, c, "scala")),
    ".zig": ("zig", lambda p, c: _parse_kwfn(p, c, "zig")),
    ".lua": ("lua", lambda p, c: _parse_endfn(p, c, "lua")),
    ".jl": ("julia", lambda p, c: _parse_endfn(p, c, "julia")),
    ".ex": ("elixir", lambda p, c: _parse_endfn(p, c, "elixir")),
    ".exs": ("elixir", lambda p, c: _parse_endfn(p, c, "elixir")),
    ".hs": ("haskell", _parse_haskell),
    ".ml": ("ocaml", _parse_ocaml),
    ".sql": ("sql", _parse_sql),
    ".css": ("css", _parse_css),
    ".vue": ("vue", lambda p, c: _parse_embedded_script(p, c, "vue")),
    ".svelte": ("svelte", lambda p, c: _parse_embedded_script(p, c, "svelte")),
    ".r": ("r", _parse_r),
    ".R": ("r", _parse_r),
    ".rmd": ("r", _parse_r),
    ".qml": ("qml", _parse_qml),
    ".html": ("html", _parse_html),
    ".htm": ("html", _parse_html),
    ".md": ("markdown", lambda p, c: _parse_text_doc(p, c, "markdown")),
    ".markdown": ("markdown", lambda p, c: _parse_text_doc(p, c, "markdown")),
    ".txt": ("text", lambda p, c: _parse_text_doc(p, c, "text")),
    ".text": ("text", lambda p, c: _parse_text_doc(p, c, "text")),
    ".rst": ("text", lambda p, c: _parse_text_doc(p, c, "text")),
    ".adoc": ("asciidoc", lambda p, c: _parse_text_doc(p, c, "asciidoc")),
    ".asciidoc": ("asciidoc", lambda p, c: _parse_text_doc(p, c, "asciidoc")),
    ".org": ("org", lambda p, c: _parse_text_doc(p, c, "org")),
    ".yaml": ("yaml", lambda p, c: _parse_text_doc(p, c, "yaml")),
    ".yml": ("yaml", lambda p, c: _parse_text_doc(p, c, "yaml")),
    ".toml": ("toml", lambda p, c: _parse_text_doc(p, c, "toml")),
    ".json": ("json", lambda p, c: _parse_text_doc(p, c, "json")),
    ".sh": ("shell", lambda p, c: _parse_text_doc(p, c, "shell")),
    ".bash": ("shell", lambda p, c: _parse_text_doc(p, c, "shell")),
    ".zsh": ("shell", lambda p, c: _parse_text_doc(p, c, "shell")),
    ".ps1": ("powershell", lambda p, c: _parse_text_doc(p, c, "powershell")),
}

# filename-keyed formats (no extension): Dockerfile / Makefile
# (language.rs: filename match precedes the extension map)
_FILENAME_PARSERS = {
    "dockerfile": ("dockerfile",
                   lambda p, c: _parse_text_doc(p, c, "dockerfile")),
    "makefile": ("makefile", lambda p, c: _parse_text_doc(p, c, "makefile")),
    "gnumakefile": ("makefile",
                    lambda p, c: _parse_text_doc(p, c, "makefile")),
}


# ---------------------------------------------------------------------------
# Optional real-tree-sitter backend — the P1 parity seam
# ---------------------------------------------------------------------------
# The reference's extractor IS tree-sitter (colgrep/src/parser/
# extract.rs:1-825). py-tree-sitter is not in this container, so the
# scanners above are the default backend; in an environment where
# ``tree_sitter`` plus a grammar source import cleanly, setting
# NEXT_PLAID_SPARK_TS=1 swaps _parse_one's BOUNDARY extraction (unit kind,
# name, nesting, line span) to real grammars for the languages below,
# keeping the same UNITS_OUT_SCHEMA, the same mapInPandas distribution, and
# the scanners' text-based metadata helpers for the remaining columns.
# Opt-in by env var — never auto-engaged — so behavior doesn't silently
# change with what happens to be installed. Feature-detected once per
# worker process; any failure falls back to the scanner for that file.
# Seam pinned by tests/test_code_parse.py::test_treesitter_backend_*
# (skipped when the libs are absent — the encoder-seam pattern).

# grammar module name per language (tree_sitter_languages bundle first,
# then per-language wheels like tree_sitter_python)
_TS_GRAMMARS = {"python": "python", "rust": "rust",
                "javascript": "javascript", "go": "go", "java": "java",
                "typescript": "typescript", "ruby": "ruby", "php": "php",
                "csharp": "c_sharp"}

# which named nodes are code units. 'fn' → Function (Method under a class
# context), 'cls' → Class, 'ctx' → class-context only (rust impl blocks:
# extract.rs routes impl methods under the impl'd type, not the impl node)
_TS_UNIT_NODES = {
    "python": {"fn": {"function_definition"}, "cls": {"class_definition"}},
    "rust": {"fn": {"function_item"},
             "cls": {"struct_item", "enum_item", "trait_item"},
             "ctx": {"impl_item"}},
    "javascript": {"fn": {"function_declaration",
                          "generator_function_declaration",
                          "method_definition"},
                   "cls": {"class_declaration"}},
    # go: the named node is type_spec (type_declaration carries no name
    # field and is descended through like any other wrapper)
    "go": {"fn": {"function_declaration", "method_declaration"},
           "cls": {"type_spec"}},
    "java": {"fn": {"method_declaration", "constructor_declaration"},
             "cls": {"class_declaration", "interface_declaration",
                     "enum_declaration"}},
    "typescript": {"fn": {"function_declaration",
                          "generator_function_declaration",
                          "method_definition", "function_signature"},
                   "cls": {"class_declaration", "interface_declaration",
                           "enum_declaration"}},
    "ruby": {"fn": {"method", "singleton_method"},
             "cls": {"class", "module"}},
    "php": {"fn": {"function_definition", "method_declaration"},
            "cls": {"class_declaration", "interface_declaration",
                    "trait_declaration"}},
    "csharp": {"fn": {"method_declaration", "constructor_declaration"},
               "cls": {"class_declaration", "interface_declaration",
                       "struct_declaration", "enum_declaration"}},
    # c/cpp are deliberately absent: their grammars name functions through
    # declarator chains (no 'name' field on function_definition), which
    # this generic boundary walker can't resolve — those languages stay on
    # the scanner even with the backend enabled.
}

_TS_PARSER_CACHE: dict = {}


def _ts_parser(lang: str):
    """Feature-detected tree-sitter Parser for ``lang``, else None."""
    import os as _os

    if not _os.environ.get("NEXT_PLAID_SPARK_TS"):
        return None
    if lang in _TS_PARSER_CACHE:
        return _TS_PARSER_CACHE[lang]
    parser = None
    try:
        import importlib

        import tree_sitter

        gname = _TS_GRAMMARS[lang]
        try:
            import tree_sitter_languages

            grammar = tree_sitter_languages.get_language(gname)
        except Exception:
            mod = importlib.import_module(f"tree_sitter_{gname}")
            # some wheels don't expose language(): tree_sitter_typescript
            # has language_typescript()/language_tsx(), tree_sitter_php
            # has language_php() — probe the per-name variant too
            lang_fn = getattr(mod, "language", None) \
                or getattr(mod, f"language_{gname}", None)
            if lang_fn is None:
                raise ImportError(f"no language entry point in tree_sitter_{gname}")
            grammar = tree_sitter.Language(lang_fn())
        try:
            parser = tree_sitter.Parser(grammar)
        except TypeError:  # py-tree-sitter < 0.22
            parser = tree_sitter.Parser()
            parser.set_language(grammar)
    except Exception:
        parser = None
    _TS_PARSER_CACHE[lang] = parser
    return parser


def _ts_try_parse(path: str, content: str, lang: str) -> list[tuple] | None:
    """Scanner-shaped 13-tuples via a real tree-sitter grammar, or None to
    fall back to the scanner (backend off, grammar missing, parse error).

    Boundary columns (name, qualified_name, unit_type, line, end_line,
    parent_class) come from the grammar; signature / docstring / params /
    calls reuse the same text helpers the scanners use, so the two
    backends agree wherever the scanner's line heuristics are right — the
    property the gated parity test asserts."""
    parser = _ts_parser(lang)
    if parser is None or lang not in _TS_UNIT_NODES:
        return None
    try:
        tree = parser.parse((content or "").encode("utf-8"))
    except Exception:
        return None
    spec = _TS_UNIT_NODES[lang]
    fn_types, cls_types = spec["fn"], spec["cls"]
    ctx_types = spec.get("ctx", set())
    lines = (content or "").splitlines()
    units: list[tuple] = []

    def text_of(node) -> str:
        return node.text.decode("utf-8", "replace")

    def name_of(node):
        for field in ("name", "type"):
            ch = node.child_by_field_name(field)
            if ch is not None:
                return text_of(ch).strip()
        return None

    def params_of(node) -> list:
        p = node.child_by_field_name("parameters")
        if p is None:
            return []
        out = []
        for c in p.named_children:
            if c.type in ("identifier", "self", "self_parameter"):
                out.append(text_of(c).lstrip("&").strip())
            else:
                n = (c.child_by_field_name("name")
                     or c.child_by_field_name("pattern"))
                if n is not None:
                    out.append(text_of(n))
        # self/this/cls are never parameters (analysis.rs:545 — the
        # scanners apply the same filter)
        return [x for x in out if x not in ("self", "this", "cls")]

    def py_docstring(node):
        # the reference's WHOLE-LINE extraction + quote/whitespace trim
        # (analysis.rs:100-121) — same quirks as _py_docstring_ref, so the
        # grammar backend and the ast scanner stay parity-testable
        b = node.child_by_field_name("body")
        if b is None or not b.named_children:
            return None
        first = b.named_children[0]
        if first.type == "expression_statement" and first.named_children \
                and first.named_children[0].type == "string":
            s = first.named_children[0]
            raw = "\n".join(lines[s.start_point[0]:s.end_point[0] + 1])
            return raw.strip("\"'").strip() or None
        return None

    _doc_kind = {"rust": "rust", "go": "line", "ruby": "hash"}.get(lang, "js")

    def emit(node, node_type: str, parent, prefix: str):
        nm = name_of(node)
        if not nm:
            return None
        start, end = node.start_point[0] + 1, node.end_point[0] + 1
        body = "\n".join(lines[start - 1:end])
        sig = lines[start - 1].strip() if start - 1 < len(lines) else nm
        qn = f"{prefix}{nm}"
        if node_type in cls_types:
            doc = (py_docstring(node) if lang == "python"
                   else _doc_above(lines, start, _doc_kind))
            units.append((path, nm, qn, "Class", start, end, sig, doc,
                          [], parent, _calls_in(body, nm), body, lang))
        else:
            doc = (py_docstring(node) if lang == "python"
                   else _doc_above(lines, start, _doc_kind))
            units.append((path, nm, qn,
                          "Method" if parent else "Function", start, end,
                          sig, doc, params_of(node), parent,
                          _calls_in(body, nm), body, lang))
        return qn

    def walk(node, parent, prefix: str):
        for ch in node.children:
            t = ch.type
            if t in ctx_types:
                nm = name_of(ch)
                walk(ch, nm or parent, f"{nm}." if nm else prefix)
            elif t in cls_types:
                qn = emit(ch, t, parent, prefix)
                walk(ch, name_of(ch) or parent,
                     f"{qn}." if qn else prefix)
            elif t in fn_types:
                qn = emit(ch, t, parent, prefix)
                walk(ch, parent, f"{qn}." if qn else prefix)
            else:
                walk(ch, parent, prefix)

    walk(tree.root_node, None, "")
    return units or None


_USED_MODULE_RE = re.compile(r"\b([A-Za-z_][\w$]*)\s*(?:\.|::)\s*[A-Za-z_]")


def _finalize(units: list[tuple], content: str, lang: str) -> list[tuple]:
    """Append the layer-3/4/5 columns (complexity, per-unit imports,
    variables, return_type, extends) to ast-lite 13-tuples. File imports
    are filtered per unit the way the reference does (extract.rs:69-82:
    module actually used via attribute/path access, or call-name overlap);
    used-module detection is the scanners' regex stand-in for
    extract_used_modules."""
    imports = _file_imports(content, lang)
    out = []
    for t in units:
        code, sig, utype, calls = t[11], t[6], t[3], t[10]
        used = set(_USED_MODULE_RE.findall(code or ""))
        out.append(t + (
            _complexity_scan(code), _filter_imports_ref(imports, used, calls),
            _variables_scan(code, lang),
            _return_type_scan(sig, lang, utype),
            _extends_scan(sig, lang, utype),
        ))
    return out


def _parse_one(path: str, content: str) -> list[tuple]:
    fname = path.rsplit("/", 1)[-1].lower()
    if fname in _FILENAME_PARSERS:
        lang, parser = _FILENAME_PARSERS[fname]
        units = parser(path, content)
        if units:
            return _finalize(units, content, lang)
        lines = (content or "").count("\n") + 1
        return _finalize(
            [(path, path.rsplit("/", 1)[-1], path, "RawCode", 1, lines,
              None, None, [], None, [], content, lang)], content, lang)
    # env-gated real-tree-sitter boundary backend (no-op unless
    # NEXT_PLAID_SPARK_TS=1 and the grammar imports — see seam above)
    ts_lang = "python" if path.endswith(".py") else next(
        (lg for ext, (lg, _) in _EXT_PARSERS.items() if path.endswith(ext)),
        None)
    if ts_lang in _TS_UNIT_NODES:
        ts_units = _ts_try_parse(path, content, ts_lang)
        if ts_units:
            return _finalize(ts_units, content, ts_lang)
    for ext, (lang, parser) in _EXT_PARSERS.items():
        if path.endswith(ext):
            units = parser(path, content)
            if units:
                return _finalize(units, content, lang)
            if not (content or "").strip():
                # empty source yields no units, not an empty RawCode blob
                # (test_css.rs::test_empty_file_doesnt_panic)
                return []
            lines = (content or "").count("\n") + 1
            return _finalize(
                [(path, path.rsplit("/", 1)[-1], path, "RawCode", 1, lines,
                  None, None, [], None, [], content, lang)], content, lang)
    if not path.endswith(".py"):
        lines = (content or "").count("\n") + 1
        return [(path, path.rsplit("/", 1)[-1], path, "RawCode", 1, lines,
                 None, None, [], None, [], content, "unknown", 1, [], [],
                 None, None)]
    try:
        tree = ast.parse(content)
    except SyntaxError:
        lines = (content or "").count("\n") + 1
        return [(path, path.rsplit("/", 1)[-1], path, "RawCode", 1, lines,
                 None, None, [], None, [], content, "python",
                 _complexity_scan(content), [],
                 _variables_scan(content, "python"), None, None)]
    src_lines = content.splitlines()
    file_imports = _imports_py(tree)

    def body(node) -> str:
        return "\n".join(src_lines[node.lineno - 1 : node.end_lineno])

    units: list[tuple] = []

    def unit_imports(child) -> list[str]:
        # reference extract.rs:69-82: per-unit filter of the file imports
        return _filter_imports_ref(
            file_imports, _py_used_modules(child), _calls_of(child))

    def def_line(child) -> str:
        # reference signature = the raw source line at the def/class node
        # (extract.rs:44-47), decorators excluded
        return src_lines[child.lineno - 1].strip()

    def code_span(child) -> tuple[int, str]:
        # decorators are part of the unit's line range and code —
        # find_start_with_attributes (ast.rs:364-409, Python '@' branch)
        decos = getattr(child, "decorator_list", [])
        start = min([child.lineno] + [d.lineno for d in decos])
        return start, "\n".join(src_lines[start - 1:child.end_lineno])

    def visit(node, parent_class: str | None, prefix: str):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                qn = f"{prefix}{child.name}"
                start, code = code_span(child)
                units.append((
                    path, child.name, qn,
                    "Method" if parent_class else "Function",
                    start, child.end_lineno, def_line(child),
                    _py_docstring_ref(child, src_lines), _py_params(child),
                    parent_class, _calls_of(child), code, "python",
                    _complexity_py(child), unit_imports(child),
                    _variables_py(child),
                    ast.unparse(child.returns) if child.returns else None,
                    None,
                ))
                visit(child, parent_class, qn + ".")
            elif isinstance(child, ast.ClassDef):
                qn = f"{prefix}{child.name}"
                start, code = code_span(child)
                extends = next(
                    (b.id for b in child.bases if isinstance(b, ast.Name)),
                    None)
                units.append((
                    path, child.name, qn, "Class", start,
                    child.end_lineno, def_line(child),
                    _py_docstring_ref(child, src_lines), [],
                    parent_class, _calls_of(child), code, "python",
                    _complexity_py(child), unit_imports(child),
                    _variables_py(child), None, extends,
                ))
                visit(child, child.name, qn + ".")
            elif isinstance(child, ast.Assign) and parent_class is None:
                for t in child.targets:
                    if isinstance(t, ast.Name) and t.id.isupper():
                        units.append((
                            path, t.id, f"{prefix}{t.id}", "Constant",
                            child.lineno, child.end_lineno, None, None, [],
                            None, [], body(child), "python", 1, file_imports,
                            [], None, None,
                        ))

    visit(tree, None, "")
    return units


def parse_code_units(files: DataFrame, *, path_col: str = "path",
                     content_col: str = "content") -> DataFrame:
    """files(path, content) → code_units rows (one per function/method/
    class/constant), with a stable ``unit_id`` assigned afterwards by the
    caller if needed. Arrow-batched; each Python worker parses a batch of
    whole files."""
    def run(batches):
        import pandas as pd

        cols = [f.split(" ")[0] for f in UNITS_OUT_SCHEMA.split(", ")]
        for pdf in batches:
            rows: list[tuple] = []
            for r in pdf.itertuples(index=False):
                rows.extend(_parse_one(getattr(r, path_col), getattr(r, content_col)))
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(run, schema=UNITS_OUT_SCHEMA)


def with_unit_ids(units: DataFrame, *, start: int = 0,
                  id_col: str = "unit_id") -> DataFrame:
    """Deterministic unit_id: dense rank over (file, line, name) with
    (end_line, code) tiebreakers — (file, line, name) alone is not unique
    (same-name one-line overloads), and an untied row_number would assign
    those ids nondeterministically across runs.

    r15 (VERDICT r14 item 1): the ids used to come from a global-order
    ``Window.orderBy(...)`` with no partitionBy — a single-partition sort
    of the whole unit table, the clearest 100 TB scale-killer in the
    code-index path. Because ``file`` is the LEADING sort key, the global
    row number decomposes exactly:

        id = start + (#units in files that sort before this file)
                   + 0-based rank within the file

    so it is computed distributed: one count-per-file aggregation (one row
    per FILE — metadata-sized at any corpus scale, the same assumption the
    update path's dirty-bucket collect and ``file_state`` already make), a
    running sum over THAT table (the only remaining global-order step,
    ranging over files rather than units), broadcast back, and a window
    PARTITIONED by file for the within-file rank. Ids are bit-identical to
    the old global window's by construction (pinned by
    ``test_unit_ids_match_global_window``). ``file`` is never NULL by the
    parser contract (every unit carries its source path); the inner
    broadcast join relies on that."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    fcounts = units.groupBy("file").agg(F.count(F.lit(1)).alias("_fn"))
    w_files = Window.orderBy("file").rowsBetween(
        Window.unboundedPreceding, -1)
    foffs = fcounts.select(
        "file",
        F.coalesce(F.sum("_fn").over(w_files), F.lit(0)).alias("_foff"))
    w_in_file = Window.partitionBy("file").orderBy(
        "line", "name", "end_line", "code")
    return (units.join(F.broadcast(foffs), "file")
            .withColumn(
                id_col,
                (F.lit(int(start)).cast("long") + F.col("_foff")
                 + F.row_number().over(w_in_file) - 1).cast("long"))
            .select(*units.columns, id_col))


def build_call_graph(units: DataFrame) -> DataFrame:
    """Layer 2 reverse edges: adds ``called_by array<string>`` —
    the distributed form of the reference's build_call_graph
    (colgrep/src/parser/call_graph.rs:7-61): a call edge matches every
    unit sharing the callee NAME (cross-file, like name_to_indices);
    callers are sorted unique; unmatched units get an empty list.

    Scale shape: one explode + one aggregation + one equi-join on the unit
    name — no driver collect, no cartesian. The callee-names semi-join
    prunes call targets that aren't units (stdlib calls etc.) before the
    shuffle."""
    from pyspark.sql import functions as F

    edges = (
        units.select(
            F.col("name").alias("caller_name"),
            F.explode("calls").alias("callee_name"),
        )
        .distinct()
    )
    names = units.select(F.col("name").alias("callee_name")).distinct()
    callers = (
        edges.join(names, "callee_name", "left_semi")
        .groupBy("callee_name")
        .agg(F.sort_array(F.collect_set("caller_name")).alias("called_by"))
    )
    out = (
        units.join(
            callers, units["name"] == callers["callee_name"], "left"
        )
        .drop("callee_name")
        .withColumn(
            "called_by",
            F.coalesce("called_by", F.array().cast("array<string>")),
        )
    )
    return out
