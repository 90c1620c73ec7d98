#!/usr/bin/env python3
"""List the public members of src/main/scala that nothing else reaches.

A member counts as reached when its name appears, outside comments, in
src/main/scala or perfbench/src anywhere other than its own definition:

  * a top-level object, class or trait: its name in another file, or in its
    own file outside its own body;
  * a member of a top-level object: `Owner.name` in another file (or a bare
    `name` in a file that imports it from `Owner`), or a bare `name` in its
    own file outside its own body;
  * a member of a class or trait: its name anywhere outside its own body
    (the receiver's type is not known, so any `x.name` counts).

Private, protected and `override` members, `apply`/`unapply` and objects
with a `main` method (entry points) are skipped; so are names in the keep-list,
whose reason is given next to each. An unreached object is printed once,
without its members. Matching is by name, so a common name can hide an
unreached member; nothing reached is ever printed.

Usage: python3 tools/unreached.py [--all] [repo root]
  --all  also print the keep-listed members, marked `kept`.
Exit status is 1 when a member outside the keep-list is printed.
"""
import os
import re
import sys

# Owner.member -> why it stays although only specs call it.
KEEP = {
    "Dedup.jaccardPairs": "brute-force oracle of the Jaccard specs",
    "Dedup.cosinePairs": "brute-force oracle of the cosine specs",
    "Dedup.bandKeys": "expression form the band-key specs check against",
    "Dedup.bandKeysUdf": "UDF form the band-key specs check against",
    "Layout.withHilbert": "oracle of the Hilbert layout specs",
    "Multimodal.resizeWith": "codec seam: specs substitute a fake codec",
    "Multimodal.sampleFramesWith": "codec seam: specs substitute a fake codec",
    "JdkCodec": "codec seam: specs substitute a fake codec",
    "Multimodal.MediaRow": "codec seam: specs substitute a fake codec",
    "Similarity.assignmentObjective": "the clustering specs' metric",
    "SparkEntry.entry": "the specs drive the flagship query through it",
    "StreamingRunner.itemStream":
        "the specs drive the dispatcher through a store stream",
    "Mutations.resetNestedTask":
        "the only form of the reference's M1 updateNestedItemState",
    "Dedup.cosine": "fold the native cosine_sim spec checks against",
}

DECL = re.compile(
    r"^(?P<indent> *)(?P<mods>(?:(?:private|protected)(?:\[\w+\])?\s+|"
    r"final\s+|sealed\s+|abstract\s+|override\s+|implicit\s+|lazy\s+|"
    r"case\s+)*)(?P<kind>def|val|var|object|class|trait|type)\s+"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)")


def strip_comments(text):
    """Blank out // and /* */ comments, keeping line breaks and strings."""
    out, i, n = [], 0, len(text)
    in_str = None
    while i < n:
        c = text[i]
        if in_str:
            if text.startswith(in_str, i):
                out.append(in_str)
                i += len(in_str)
                in_str = None
            elif c == "\\" and in_str == '"':
                out.append(text[i:i + 2])
                i += 2
            else:
                out.append(c)
                i += 1
        elif text.startswith('"""', i):
            in_str = '"""'
            out.append('"""')
            i += 3
        elif c == '"':
            in_str = '"'
            out.append(c)
            i += 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * text.count("\n", i, j))
            i = j
        elif c == "'" and i + 2 < n and text[i + 2] == "'":
            out.append(text[i:i + 3])  # a char literal such as '"'
            i += 3
        else:
            out.append(c)
            i += 1
    return "".join(out)


def span_end(lines, start, indent):
    """Index one past the body of the declaration on line `start`."""
    j = start + 1
    while j < len(lines):
        line = lines[j]
        if line.strip():
            ind = len(line) - len(line.lstrip(" "))
            if ind < indent or (ind == indent and line.strip() != "}"):
                return j
            if ind == indent:
                return j + 1
        j += 1
    return j


def scala_files(root, sub):
    for d, _, fs in os.walk(os.path.join(root, sub)):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main(argv):
    show_all = "--all" in argv
    args = [a for a in argv if a != "--all"]
    root = args[0] if args else os.path.join(os.path.dirname(__file__), "..")
    main_files = sorted(scala_files(root, "src/main/scala"))
    texts = {}
    for path in main_files + sorted(scala_files(root, "perfbench/src")):
        with open(path, encoding="utf-8") as fh:
            texts[path] = strip_comments(fh.read()).split("\n")

    decls = []  # (path, line, indent, kind, owner, name, end)
    for path in main_files:
        lines = texts[path]
        owner = None
        for i, line in enumerate(lines):
            m = DECL.match(line)
            if not m:
                continue
            indent = len(m.group("indent"))
            if indent == 0 and m.group("kind") in ("object", "class", "trait"):
                owner = (m.group("kind"), m.group("name"))
            if indent > 2:
                continue
            mods = m.group("mods")
            if "private" in mods or "protected" in mods or "override" in mods:
                continue
            decls.append((path, i, indent, m.group("kind"),
                          owner if indent == 2 else None, m.group("name"),
                          span_end(lines, i, indent)))

    entry_points = {(p, o[1]) for p, _, ind, _, o, n, _ in decls
                    if ind == 2 and n == "main" and o}

    # per file: identifier -> lines it is on; Owner.member pairs; imports
    ident = re.compile(r"[A-Za-z_]\w*")
    qual = re.compile(r"(?<!\w)(?=([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*))")
    imp = re.compile(r"import\s+[\w.]*?([A-Za-z_]\w*)\."
                     r"(_|\{[^}]*\}|[A-Za-z_]\w*)")
    words, quals, imports = {}, {}, {}
    for path, lines in texts.items():
        w = words[path] = {}
        for i, line in enumerate(lines):
            for tok in ident.findall(line):
                w.setdefault(tok, []).append(i)
        text = "\n".join(lines)
        quals[path] = set(qual.findall(text))
        imports[path] = {}
        for owner, what in imp.findall(text):
            names = ({"_"} if what == "_" else set(ident.findall(what))
                     if what.startswith("{") else {what})
            imports[path].setdefault(owner, set()).update(names)

    def in_file(name, path, skip=None):
        return any(not (skip and skip[0] <= i < skip[1])
                   for i in words[path].get(name, ()))

    unreached_owners = set()
    report, failed = [], False
    others = lambda path: (p for p in texts if p != path)
    for path, i, indent, kind, owner, name, end in decls:
        if indent == 0:
            if (path, name) in entry_points:
                continue
            reached = in_file(name, path, (i, end)) or any(
                in_file(name, p) for p in others(path))
            key = name
        else:
            if owner is None or (path, owner[1]) in unreached_owners:
                continue
            if name == "main" or (kind == "def" and name in ("apply",
                                                             "unapply")):
                continue
            reached = in_file(name, path, (i, end))
            if owner[0] == "object":
                reached = reached or any(
                    (owner[1], name) in quals[p] or (
                        imports[p].get(owner[1], set()) & {"_", name}
                        and in_file(name, p))
                    for p in others(path))
            else:
                reached = reached or any(in_file(name, p)
                                         for p in others(path))
            key = "%s.%s" % (owner[1], name)
        if reached:
            continue
        if indent == 0:
            unreached_owners.add((path, name))
        kept = KEEP.get(key)
        failed = failed or kept is None
        if kept is None or show_all:
            rel = os.path.relpath(path, root)
            report.append("%s:%d\t%s %s%s" % (
                rel, i + 1, kind, key, "\tkept: " + kept if kept else ""))
    for line in report:
        print(line)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
