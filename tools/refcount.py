#!/usr/bin/env python3
"""Report the code that only tests reach, and the knobs nothing sets.

Usage, from the root of a checkout (or with the checkout as argument):

    python3 tools/refcount.py [ROOT]

Reads every .scala/.py/.sh file under src/main/scala, src/test/scala,
pipebench/src and tools, with comments and string literals stripped (a
string's `$name` and `${...}` interpolations are kept, as code; a package
clause is dropped). Prints five lists and exits 0; it gates nothing.

1. Test-only members. Every `def`/`val`/`var` declared at member indent
   (two spaces) in src/main/scala that is not `private` or `override`.
   Its name is counted as a whole word (not next to [A-Za-z0-9_$]) per
   area: the declaring file minus the declaration line, other src/main
   files, pipebench/src, tools, src/test. For a member of an `object`
   (`apply` and `main` apart), another file uses it only through the
   qualified name (`Obj.name`, whitespace and newlines allowed around the
   dot, string literals included: generated code calls members so) or
   where it imports the name, or everything, from the object. A member
   that only src/test names is listed.
2. File-local members. Members of that kind that nothing outside their
   own file names: candidates for `private`, so the unused lint sees them.
   (The compiler rejects a `private` member that another class or object
   in the same file uses; compile after each change.)
3. Unused types. Every top-level class, object and trait in src/main/scala
   that no other file outside src/test names and its own file does not
   use apart from its declarations (a class and its companion). Objects
   holding a `def main` and classes registered under
   src/main/resources/META-INF/services are exempt: a launcher or a
   ServiceLoader finds them by name.
4. Knobs nothing sets. Every defaulted parameter of a `def` or class in
   src/main/scala that no call outside src/test passes, by name or by
   position, with a value other than its default. Calls are found by the
   callee's name followed by its argument lists; `.copy(...)` of a case
   class counts as a call of the class. A call in another file counts only
   if that file names the callee's object or class, and a call with more
   arguments than the callee has parameters is another method's.

5. Fixed named arguments. Every parameter name, per src/main/scala file,
   that every src/main call site of every non-`private` `def` or class
   there declaring it passes by name, all with one literal (`true`, a number, a string,
   `None`, ...), over two sites or more: a switch its callers never
   throw. Call sites are found as in list 4.

Name collisions only over-count, so lists 1 to 3 never name a member or
type that is used; they can hide one that is not. Whole-word counting
still lets a class member hide behind any same-named identifier, and an
object member behind a same-named member of a class the file imports
with a wildcard. A type is hidden by any same-named identifier outside
src/test, and a class that is only ever named in a string (a
`spark.sql.extensions` value, say) is listed although it is loaded.
List 4 can also miss a call made through a value whose class the calling
file never names: check a listed parameter's callers before deleting it.
"""
import os
import re
import sys

AREAS = ("src/main/scala", "src/test/scala", "pipebench/src", "tools")
EXTS = (".scala", ".py", ".sh")
WORD = "A-Za-z0-9_$"

MEMBER = re.compile(
    r"^  ((?:(?:final|lazy|implicit|private\[\w+\]|protected\[\w+\])\s+)*)"
    r"(def|val|var)\s+([A-Za-z_][A-Za-z0-9_]*)")
OWNER = re.compile(r"^(?:(?:private(?:\[\w+\])?|final|sealed|abstract|case|implicit)\s+)*"
                   r"(object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)", re.M)
SOURCES = {}  # file -> unstripped .scala text, filled by load()
LITERALS = {}  # file -> .scala text with comments blanked, strings kept
CALLS = {}  # file -> name -> [(start, end)] of every `name(` or `name[T](`
DEFAULTED = re.compile(
    r"\b(?:def\s+([A-Za-z_][A-Za-z0-9_]*)(?:\[[^\]]*\])?|class\s+([A-Za-z_][A-Za-z0-9_]*)(?:\[[^\]]*\])?)\s*\(")


def strip_scala(src, strings=True):
    """Blanks comments and (unless `strings` is false) string literals,
    keeping interpolated `$name` / `${...}` text. Every offset holds, so a
    span of the result is the same span of the source."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i)); i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j): depth += 1; j += 2
                elif src.startswith("*/", j): depth -= 1; j += 2
                else: j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j])); i = j
        elif c == '"' and not strings:
            end = '"""' if src.startswith('"""', i) else '"'
            j = i + len(end)
            while j < n and not src.startswith(end, j):
                j += 2 if end == '"' and src[j] == "\\" else 1
            while end == '"""' and src.startswith('""""', j):
                j += 1
            out.append(src[i:j + len(end)]); i = j + len(end)
        elif c == '"':
            interp = i > 0 and re.match(r"[A-Za-z_]", src[i - 1]) is not None
            triple = src.startswith('"""', i)
            end = '"""' if triple else '"'
            j = i + len(end)
            body = []
            while j < n and not src.startswith(end, j):
                if not triple and src[j] == "\\":
                    body.append("  "); j += 2; continue
                if interp and src[j] == "$" and j + 1 < n:
                    if src[j + 1] == "{":
                        depth, k = 1, j + 2
                        while k < n and depth:
                            depth += {"{": 1, "}": -1}.get(src[k], 0); k += 1
                        body.append("  " + src[j + 2:k - 1] + " "); j = k; continue
                    m = re.match(r"\$([A-Za-z_][A-Za-z0-9_]*)", src[j:])
                    if m:
                        body.append(" " + m.group(1)); j += len(m.group(0)); continue
                body.append("\n" if src[j] == "\n" else " "); j += 1
            while triple and src.startswith('""""', j):  # closing run of quotes
                body.append(" "); j += 1
            out.append(end + "".join(body) + end); i = j + len(end)
        elif c == "'" and re.match(r"'(\\.|[^'\\\n])'", src[i:i + 4]):
            m = re.match(r"'(\\.|[^'\\\n])'", src[i:])
            out.append("'" + " " * (len(m.group(0)) - 2) + "'"); i += len(m.group(0))
        else:
            out.append(c); i += 1
    return "".join(out)


def strip_script(src, ext):
    """Blanks `#` comments and (for Python) string literals."""
    if ext == ".py":
        src = re.sub(r'("""|\'\'\')(?:.|\n)*?\1',
                     lambda m: re.sub(r"[^\n]", " ", m.group(0)), src)
        src = re.sub(r'"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])*\'', '""', src)
    return re.sub(r"(?<![$\w])#[^\n]*", "", src)


def load(root):
    files = {}
    for area in AREAS:
        for d, _, names in os.walk(os.path.join(root, area)):
            for name in sorted(names):
                ext = os.path.splitext(name)[1]
                if ext not in EXTS:
                    continue
                path = os.path.join(d, name)
                with open(path, encoding="utf-8", errors="replace") as f:
                    src = f.read()
                rel = os.path.relpath(path, root)
                # a package clause names packages, never a member
                src = re.sub(r"(?m)^package\s+[\w.]+", lambda m: " " * len(m.group(0)), src)
                files[rel] = (area, strip_scala(src) if ext == ".scala" else strip_script(src, ext))
                if ext == ".scala":
                    assert len(files[rel][1]) == len(src), rel
                    SOURCES[rel] = src
                    LITERALS[rel] = strip_scala(src, strings=False)
                    calls = CALLS[rel] = {}
                    for cm in re.finditer(r"(?<![%s])([A-Za-z_][A-Za-z0-9_]*)"
                                          r"(?:\[[^\]()]*\])?(?=\s*\()" % WORD, files[rel][1]):
                        calls.setdefault(cm.group(1), []).append((cm.start(), cm.end()))
    return files


def owner(text, offset):
    """The top-level object, class or trait declared last before `offset`."""
    names = [m.group(2) for m in OWNER.finditer(text, 0, offset)]
    return names[-1] if names else None


def count(text, name):
    return len(re.findall(r"(?<![%s])%s(?![%s])" % (WORD, re.escape(name), WORD), text))


def members(files):
    """(file, line, name) of every public member declared in src/main."""
    for rel, (area, text) in files.items():
        if area != "src/main/scala" or not rel.endswith(".scala"):
            continue
        for no, line in enumerate(text.split("\n"), 1):
            m = MEMBER.match(line)
            if m and m.group(3) != "main":
                yield rel, no, m.group(3)


def owner_kind(text, offset):
    """(kind, name) of the top-level declaration `owner` returns."""
    kinds = [m.group(1) for m in OWNER.finditer(text, 0, offset)]
    return (kinds[-1] if kinds else None), owner(text, offset)


def imports_from(text, obj, name):
    """True if `text` imports `name` (or everything) from object `obj`."""
    for m in re.finditer(r"\bimport\s+[\w.]*?(?<![%s])%s\s*\.\s*(_|\{[^}]*\}|[A-Za-z_]\w*)"
                         % (WORD, re.escape(obj)), text):
        sel = m.group(1)
        if sel == "_" or sel == name or (sel.startswith("{") and
                                         (count(sel, name) or re.search(r"\b_\b", sel))):
            return True
    return False


def dotted(text, obj, name):
    return len(re.findall(r"(?<![%s])%s\s*\.\s*%s(?![%s])"
                          % (WORD, re.escape(obj), re.escape(name), WORD), text))


def qualified(rel, text, obj, name):
    """Uses of `obj.name` (whitespace and newlines allowed around the dot),
    or of bare `name` where `text` imports it from `obj`. A qualified name
    inside a string literal counts too: generated code calls members so."""
    if imports_from(text, obj, name):
        return count(text, name)
    return dotted(LITERALS.get(rel, text), obj, name)


def references(files, rel, no, name):
    """Counts of `name` per area, the declaring file apart: whole words,
    except that another file uses a member of an `object` only through a
    qualified name or an import (`apply` and `main` count as whole words)."""
    refs = dict.fromkeys(("own file",) + AREAS, 0)
    lines = files[rel][1].split("\n")
    kind, obj = owner_kind(files[rel][1], sum(len(l) + 1 for l in lines[:no - 1]))
    for other, (area, text) in files.items():
        if other == rel:
            refs["own file"] += count("\n".join(lines[:no - 1] + lines[no:]), name)
            if kind == "object":
                # generated code, spliced from a string literal, calls the
                # member from another class: a use from outside the file
                refs[area] += dotted(LITERALS[rel], obj, name) - dotted(text, obj, name)
        elif kind == "object" and name not in ("apply", "main"):
            refs[area] += qualified(other, text, obj, name)
        else:
            refs[area] += count(text, name)
    return refs


def unused_types(root, files):
    """(file, line, kind, name) of every top-level class, object or trait in
    src/main that no other non-test file names and its own file does not
    use, apart from mains and META-INF/services registrations."""
    services = set()
    sdir = os.path.join(root, "src/main/resources/META-INF/services")
    if os.path.isdir(sdir):
        for svc in os.listdir(sdir):
            with open(os.path.join(sdir, svc), encoding="utf-8") as f:
                services |= {l.split("#")[0].strip().rsplit(".", 1)[-1] for l in f}
    for rel, (area, text) in files.items():
        if area != "src/main/scala" or not rel.endswith(".scala"):
            continue
        decls = list(OWNER.finditer(text))
        mains = {owner(text, m.start()) for m in re.finditer(r"\bdef\s+main\b", text)}
        for m in decls:
            kind, name = m.group(1), m.group(2)
            if name in mains or name in services:
                continue
            # every declaration of the name (a class and its companion) apart
            rest = text
            for d in decls:
                if d.group(2) == name:
                    rest = rest[:d.start()] + " " * (d.end() - d.start()) + rest[d.end():]
            used = count(rest, name) or any(
                count(otext, name) for other, (oarea, otext) in files.items()
                if other != rel and oarea != "src/test/scala")
            if not used:
                yield rel, text.count("\n", 0, m.start()) + 1, kind, name


def groups(text, i):
    """The balanced `(...)` argument lists starting at text[i], in order:
    (offset of the list's content, content)."""
    out = []
    while True:
        while i < len(text) and text[i] in " \t\n":
            i += 1
        if i >= len(text) or text[i] != "(":
            return out
        depth, j = 0, i
        while j < len(text):
            depth += {"(": 1, ")": -1}.get(text[j], 0)
            j += 1
            if depth == 0:
                break
        out.append((i + 1, text[i + 1:j - 1])); i = j


def split_top(args, base):
    """Splits an argument list at its top-level commas: (offset, part)."""
    parts, depth, start = [], 0, 0
    for k, c in enumerate(args):
        if c in "([{": depth += 1
        elif c in ")]}": depth -= 1
        elif c == "," and depth == 0:
            parts.append((base + start, args[start:k])); start = k + 1
    if args[start:].strip():
        parts.append((base + start, args[start:]))
    return parts


PARAM = re.compile(r"\s*(?:(?:implicit|val|var|override|private|final)\s+)*"
                   r"([A-Za-z_][A-Za-z0-9_]*)\s*:(?:[^=]|=>)*?=(?!>)\s*(.*?)\s*$", re.S)
NAMED = re.compile(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*=(?![=>])\s*(.*?)\s*$", re.S)


LITERAL = re.compile(r'(?:true|false|null|None|-?\d[\d_]*(?:\.\d+)?[LlDdFf]?|"[^"\n]*")$')


NAMES = {}  # (file, type) -> whether the file names it


def names_type(rel, text, name):
    if (rel, name) not in NAMES:
        NAMES[(rel, name)] = count(text, name) > 0
    return NAMES[(rel, name)]


def written(rel, start, end):
    """Source text of a span, literals and all, whitespace collapsed."""
    return re.sub(r"\s+", " ", SOURCES[rel][start:end])


def callables(files):
    """Every def and class in src/main with a parameter list, with its call
    sites outside src/test: (file, line, callee, [(list index, position,
    param, default as written or None)], [(file, name called, [argument
    lists, each a list of (offset, argument)])])."""
    for rel, (area, text) in files.items():
        if area != "src/main/scala" or not rel.endswith(".scala"):
            continue
        for m in DEFAULTED.finditer(text):
            callee = m.group(1) or m.group(2)
            plists = groups(text, m.end() - 1)
            params = []
            for li, (off, plist) in enumerate(plists):
                for pos, (poff, p) in enumerate(split_top(plist, off)):
                    pm = PARAM.match(p)
                    nm = pm or re.match(r"\s*(?:(?:implicit|val|var|override|private|final)\s+)*"
                                        r"([A-Za-z_][A-Za-z0-9_]*)\s*:", p)
                    if nm:
                        params.append((li, pos, nm.group(1), pm and
                                       written(rel, poff + pm.start(2), poff + pm.end(2))))
            if not params:
                continue
            arity = [len(split_top(pl, off)) for off, pl in plists]
            home = m.group(2) or owner(text, m.start())
            decl_end = plists[-1][0] + len(plists[-1][1])
            names = [callee] + (["copy"] if m.group(2) else [])
            sites = []
            for other, (oarea, otext) in files.items():
                if oarea == "src/test/scala" or other not in SOURCES:
                    continue
                # a call in another file can only reach this one if the
                # file names its object or class (a qualified call or an
                # import); same-named methods elsewhere are other methods
                if other != rel and home and not names_type(other, otext, home):
                    continue
                for nm in names:
                    for start, end in CALLS[other].get(nm, ()):
                        if other == rel and m.start() <= start < decl_end:
                            continue
                        lists = []
                        for li, (off, call) in enumerate(groups(otext, end)):
                            args = split_top(call, off)
                            if li >= len(arity) or len(args) > arity[li]:
                                break  # more arguments than parameters: another method
                            lists.append(args)
                        if lists:
                            sites.append((other, nm, lists))
            yield rel, text.count("\n", 0, m.start()) + 1, callee, params, sites


def knobs(files):
    """(file, line, callee, param, default) never set outside src/test."""
    for rel, line, callee, params, sites in callables(files):
        set_ = set()
        for other, nm, lists in sites:
            for li, args in enumerate(lists):
                for pos, (aoff, a) in enumerate(args):
                    am = NAMED.match(a)
                    for (pl, pp, pn, pd) in params:
                        if pl != li or pd is None:
                            continue
                        if am:
                            hit, v = am.group(1) == pn, (aoff + am.start(2), aoff + am.end(2))
                        else:
                            hit, v = nm != "copy" and pos == pp, (aoff, aoff + len(a))
                        if hit and written(other, *v).strip() != pd:
                            set_.add(pn)
        for (_, _, pn, pd) in params:
            if pd is not None and pn not in set_:
                yield rel, line, callee, pn, pd


def fixed_named(files):
    """(file, param, literal, sites, callees): a parameter name that every
    src/main call site of every callee in `file` declaring it passes by
    name, all with the same literal, over two sites or more."""
    seen = {}  # (file, param) -> ([value per site], {callee})
    for rel, line, callee, params, sites in callables(files):
        decl = files[rel][1].split("\n")[line - 1]
        if re.search(r"\bprivate(?!\[)", decl):
            continue  # a private helper's caller forwards the public switch
        main_sites = [s for s in sites if files[s[0]][0] == "src/main/scala"]
        for (pl, _, pn, _) in params:
            values, callees = seen.setdefault((rel, pn), ([], set()))
            callees.add(callee)
            for other, _, lists in main_sites:
                named = [written(other, aoff + am.start(2), aoff + am.end(2)).strip()
                         for aoff, a in (lists[pl] if pl < len(lists) else [])
                         for am in [NAMED.match(a)] if am and am.group(1) == pn]
                values.append(named[0] if named else None)
    for (rel, pn), (values, callees) in seen.items():
        if len(values) >= 2 and len(set(values)) == 1 and values[0] and LITERAL.match(values[0]):
            yield rel, pn, values[0], len(values), ", ".join(sorted(callees))


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    files = load(root)
    test_only, file_local = [], []
    for rel, no, name in members(files):
        refs = references(files, rel, no, name)
        outside = sum(refs[a] for a in ("src/main/scala", "pipebench/src", "tools"))
        if outside == 0 and refs["own file"] == 0 and refs["src/test/scala"] > 0:
            test_only.append((rel, no, name, refs["src/test/scala"]))
        elif outside == 0 and refs["own file"] > 0:
            file_local.append((rel, no, name, refs["own file"], refs["src/test/scala"]))
    print("test-only members (%d): only src/test names them" % len(test_only))
    for rel, no, name, t in test_only:
        print("  %s:%d %s (test refs %d)" % (rel, no, name, t))
    print("file-local members (%d): nothing outside their file names them" % len(file_local))
    for rel, no, name, own, t in file_local:
        print("  %s:%d %s (own-file refs %d, test refs %d)" % (rel, no, name, own, t))
    types = list(unused_types(root, files))
    print("unused types (%d): no other non-test file names them, nor their own file" % len(types))
    for rel, no, kind, name in types:
        print("  %s:%d %s %s" % (rel, no, kind, name))
    unset = sorted(set(knobs(files)))
    print("defaulted parameters nothing outside src/test sets (%d)" % len(unset))
    for rel, no, callee, pn, pd in unset:
        print("  %s:%d %s(%s = %s)" % (rel, no, callee, pn, pd))
    fixed = sorted(set(fixed_named(files)))
    print("named arguments every src/main call site sets to one literal (%d)" % len(fixed))
    for rel, pn, lit, n, callees in fixed:
        print("  %s: %s = %s at %d of %d sites (%s)" % (rel, pn, lit, n, n, callees))
    return 0


if __name__ == "__main__":
    sys.exit(main())
