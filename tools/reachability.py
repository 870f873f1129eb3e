#!/usr/bin/env python3
"""Bytecode reachability census of the graft library.

Walks the call graph of the compiled main classes (``javap -v -p -c`` of
``target/scala-2.13/classes``) from the engine's entry points and reports
every method span that nothing but the specs reaches, or nothing at all.

Roots:
  * ``SparkEntry.queries`` / ``SparkEntry.oracleSql`` (the query contract);
  * the ``main`` methods of ``Bench``, ``Verify`` and ``PlanDump``;
  * ``GraftExtensions`` (instantiated by Spark from
    ``spark.sql.extensions``);
  * ``Hull.hullPerDay`` (the spec-only operator of the frozen surface);
  * every library symbol named in ``perfbench/src``: ``Obj.member`` roots
    ``member`` of ``Obj``, and every ``.member`` selection counts as a
    virtual call of ``member``.

Virtual dispatch is over-approximated by name: a virtual or interface
call of ``m`` reaches ``m`` on every class instantiated anywhere in the
reached code, and an instantiated class with a supertype outside the
library (Spark expressions, rules, Scala function classes) has all of
its instance methods reached, since code outside the library may call
any of them. Lambdas are followed through their bootstrap arguments.

A second walk starts from every spec class as well, so each unreached
span is labelled ``spec-only`` (some spec reaches it) or ``unreached``.
A span on KEEP (below) is listed with its reason. Any other span makes
the tool exit 1.

Usage (after ``sbt Test/compile``):
    python3 tools/reachability.py            # census to stdout
    python3 tools/reachability.py -o plans/reachability.txt
"""

import argparse
import collections
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(REPO, "target", "scala-2.13", "classes")
TEST = os.path.join(REPO, "target", "scala-2.13", "test-classes")
PERFBENCH = os.path.join(REPO, "perfbench", "src")

ROOTS = [
    ("graft/SparkEntry$", "queries"),
    ("graft/SparkEntry$", "oracleSql"),
    ("graft/Bench$", "main"),
    ("graft/Verify$", "main"),
    ("graft/PlanDump$", "main"),
    ("graft/spatial/Hull$", "hullPerDay"),
]
ROOT_CLASSES = ["graft/GraftExtensions"]

# Spans kept although only specs reach them: "Class.method" (javap
# binary names, '.' separated) or a whole "Class", with the reason.
KEEP = {
    "graft.api.Durations$":
        "README's History example calls it",
    "graft.text.TextOps$.polyHash":
        "PolyHashSpec's reference implementation for polyHashNative",
    "graft.operators.Relational5$.bucketedJoinPlan":
        "PlanAuditSpec's probe of the live stageBucketedTables layout",
    "graft.util.ManifestStore$.append":
        "single-table primitive driving ManifestStore's own spec",
    "graft.util.ManifestStore$.appendTouched":
        "single-table primitive driving ManifestStore's own spec",
    "graft.util.ManifestStore$.rewriteTouched":
        "single-table primitive driving ManifestStore's own spec",
    "graft.util.ManifestStore$.compact":
        "single-table primitive driving ManifestStore's own spec",
    "graft.util.ManifestStore$.read":
        "single-table primitive driving ManifestStore's own spec",
    "graft.util.ManifestStore$.files":
        "single-table primitive driving ManifestStore's own spec",
    "graft.util.ManifestStore$.partitionDirs":
        "single-table primitive driving ManifestStore's own spec",
    "graft.util.DeleteLog$.append":
        "single-call primitive driving the delete log's own spec",
    "graft.util.ManifestStore$.sweepStrandedShards":
        "documented operator API: the explicit stranded-shard deep clean",
    "graft.util.ManifestStore$.breakLease":
        "documented operator API: recovery from a dead writer's lease",
    "graft.SparkEntry$.entry":
        "entry-point contract: the flagship smoke-check query",
    # spec hooks: crash injection, cache and layout probes, size knobs
    "graft.util.ManifestStore$.crashPoint_$eq":
        "spec hook: crash injection for the publish crash-window specs",
    "graft.sources.Compaction$.crashPoint_$eq":
        "spec hook: crash injection for the compaction crash-window specs",
    "graft.util.ManifestStore$.indexBucketTarget_$eq":
        "spec knob: forces index growth on a store of a few dirs",
    "graft.util.ManifestStore$.shardCachePerStore_$eq":
        "spec knob: exercises the per-store LRU bound on a small store",
    "graft.util.ManifestStore$.shardCacheRoots_$eq":
        "spec knob: exercises the root-level LRU bound",
    "graft.util.ManifestStore$.clearShardCache":
        "spec hook: makes a resolution cold",
    "graft.util.ManifestStore$.shardCacheSize":
        "spec probe of the per-store LRU bound",
    "graft.util.ManifestStore$.cachedRootCount":
        "spec probe of the root-level LRU bound",
    "graft.util.ManifestStore$.bucketIndex":
        "spec view of the two-level index layout",
    "graft.util.ManifestStore$.shardIndex":
        "spec view of the dir-to-shard layout",
    "org.apache.spark.sql.GraftBridge$.noCachedPlans":
        "spec probe: per-batch operators leave no cached plans behind",
}

# Externally visible supertypes that add no callbacks of their own.
INERT_SUPERS = {
    "java/lang/Object", "java/io/Serializable", "scala/Serializable",
    "scala/Product", "scala/Equals", "java/lang/Record",
}

# Compiler-generated members: never reported on their own.
GENERATED = {
    "<clinit>", "<init>", "$deserializeLambda$", "writeReplace",
    "readResolve", "$init$", "copy", "productPrefix", "productArity",
    "productElement", "productIterator", "productElementName",
    "productElementNames", "canEqual", "equals", "hashCode", "toString",
    "unapply", "apply", "curried", "tupled", "fromProduct",
    "$lessinit$greater",
}

INVOKE = re.compile(
    r"^\s*\d+: (invoke(?:static|special|virtual|interface))\s+#\d+"
    r"(?:,\s*\d+)?\s+// (?:Interface)?Method (?:([\w/$]+)\.)?\"?([\w$<>]+)\"?:")
INDY = re.compile(r"^\s*\d+: invokedynamic\s+#\d+,\s*\d+\s+// InvokeDynamic #(\d+):")
FIELD = re.compile(r"^\s*\d+: (?:get|put)static\s+#\d+\s+// Field ([\w/$]+)\.")
NEW = re.compile(r"^\s*\d+: new\s+#\d+\s+// class ([\w/$]+)")
LDC_CLASS = re.compile(r"^\s*\d+: ldc(?:_w)?\s+#\d+\s+// class ([\w/$]+)")
HANDLE = re.compile(r"REF_\w+ ([\w/$]+)\.([\w$<>]+):")
LINE = re.compile(r"^\s+line (\d+): \d+")
HEADER = re.compile(
    r"^(?:[\w ]*?)(?:class|interface) ([\w.$]+)"
    r"(?:<.*?>)?(?: extends ([\w.$<>?, ]+?))?(?: implements ([\w.$<>?, ]+))?$")


class Method:
    __slots__ = ("static", "synthetic", "bridge", "lines",
                 "calls", "virtual", "indys", "inits", "news")

    def __init__(self, flags):
        self.static = "ACC_STATIC" in flags
        self.synthetic = "ACC_SYNTHETIC" in flags
        self.bridge = "ACC_BRIDGE" in flags
        self.lines = []
        self.calls = []      # (owner, name) direct targets
        self.virtual = []    # names called virtually
        self.indys = []      # bootstrap indices
        self.inits = []      # classes initialised (static field access)
        self.news = []       # classes instantiated


class Klass:
    def __init__(self, name):
        self.name = name
        self.supers = []
        self.interface = False
        self.source = None
        self.methods = collections.defaultdict(list)
        self.bootstraps = {}
        self.fields = set()


def strip_generics(s):
    out, depth = [], 0
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif depth == 0:
            out.append(ch)
    return "".join(out)


def class_files(root):
    files = []
    for d, _, fs in os.walk(root):
        files.extend(os.path.join(d, f) for f in fs if f.endswith(".class"))
    return sorted(files)


def javap(files):
    out = []
    for i in range(0, len(files), 200):
        out.append(subprocess.run(
            ["javap", "-v", "-p", "-c"] + files[i:i + 200],
            check=True, capture_output=True, text=True).stdout)
    return "\n".join(out)


def parse(text):
    classes = {}
    k = m = None
    section = None
    boot_idx = None
    pending = None  # member header awaiting its flags line
    for raw in text.splitlines():
        if raw.startswith("Classfile "):
            k = m = None
            section = "head"
            continue
        if section == "head":
            h = HEADER.match(strip_generics(raw.strip()).strip())
            if h and ("class " in raw or "interface " in raw) and not raw.startswith(" "):
                k = Klass(h.group(1).replace(".", "/"))
                k.interface = " interface " in " " + raw
                for grp in (h.group(2), h.group(3)):
                    if grp:
                        k.supers += [s.strip().replace(".", "/")
                                     for s in grp.split(",") if s.strip()]
                classes[k.name] = k
                section = "pool"
            continue
        if k is None:
            continue
        if raw == "{":
            section = "members"
            continue
        if raw.startswith("SourceFile:"):
            k.source = raw.split('"')[1]
            continue
        if raw.startswith("BootstrapMethods:"):
            section = "boot"
            continue
        if section == "members":
            if raw.startswith("  ") and not raw.startswith("   ") and raw.rstrip().endswith(";"):
                decl = strip_generics(raw.strip().rstrip(";"))
                if decl.endswith("static {}"):
                    pending = "<clinit>"
                elif "(" in decl:
                    name = decl.split("(")[0].split()[-1]
                    if name.replace(".", "/") == k.name:
                        name = "<init>"
                    pending = name
                else:
                    k.fields.add(decl.split()[-1])
                    pending = None
                m = None
                continue
            if raw.startswith("    flags:") and pending:
                m = Method(raw)
                k.methods[pending].append(m)
                pending = None
                continue
            if m is None:
                continue
            g = INVOKE.match(raw)
            if g:
                kind, owner, name = g.groups()
                owner = owner or k.name
                if kind in ("invokevirtual", "invokeinterface"):
                    m.virtual.append(name)
                if kind == "invokestatic":
                    m.inits.append(owner)
                m.calls.append((owner, name))
                continue
            g = INDY.match(raw)
            if g:
                m.indys.append(int(g.group(1)))
                continue
            g = FIELD.match(raw)
            if g:
                m.inits.append(g.group(1))
                continue
            g = NEW.match(raw) or LDC_CLASS.match(raw)
            if g:
                m.news.append(g.group(1))
                continue
            g = LINE.match(raw)
            if g:
                m.lines.append(int(g.group(1)))
        elif section == "boot":
            b = re.match(r"^\s+(\d+): #\d+", raw)
            if b:
                boot_idx = int(b.group(1))
                k.bootstraps[boot_idx] = []
                continue
            for owner, name in HANDLE.findall(raw):
                if boot_idx is not None:
                    k.bootstraps[boot_idx].append((owner, name))
    return classes


class Walk:
    def __init__(self, classes):
        self.classes = classes
        self.reached = set()          # (class, name)
        self.touched = set()          # classes initialised or instantiated
        self.instantiated = set()
        self.vnames = set()
        self.by_name = collections.defaultdict(set)  # name -> instantiated types defining it
        self.work = []

    def supertypes(self, c, seen=None):
        seen = set() if seen is None else seen
        k = self.classes.get(c)
        if k is None or c in seen:
            return seen
        seen.add(c)
        for s in k.supers:
            self.supertypes(s, seen)
        return seen

    def external_supers(self, c):
        ext = set()
        for t in self.supertypes(c):
            for s in self.classes[t].supers:
                if s not in self.classes:
                    ext.add(s)
        return ext - INERT_SUPERS

    def method(self, c, name):
        # resolve along the supertype chain (inherited members)
        for t in [c] + sorted(self.supertypes(c) - {c}):
            k = self.classes.get(t)
            if k and name in k.methods:
                self.reach(t, name)
                return

    def reach(self, c, name):
        if (c, name) in self.reached or c not in self.classes:
            return
        if name not in self.classes[c].methods:
            return self.method(c, name)
        self.reached.add((c, name))
        self.work.append((c, name))

    def init(self, c):
        if c in self.classes and c not in self.touched:
            self.touched.add(c)
            self.reach(c, "<clinit>")

    def instantiate(self, c):
        if c not in self.classes or c in self.instantiated:
            return
        self.init(c)
        self.instantiated.add(c)
        open_all = bool(self.external_supers(c))
        for t in self.supertypes(c):
            self.touched.add(t)
            for name, ms in self.classes[t].methods.items():
                if any(not mm.static for mm in ms):
                    self.by_name[name].add(t)
                    if open_all or name in self.vnames:
                        self.reach(t, name)

    def vcall(self, name):
        if name not in self.vnames:
            self.vnames.add(name)
            for t in sorted(self.by_name.get(name, ())):
                self.reach(t, name)

    def run(self):
        while self.work:
            c, name = self.work.pop()
            k = self.classes[c]
            for m in k.methods[name]:
                for t in m.inits:
                    self.init(t)
                for t in m.news:
                    self.instantiate(t)
                for n in m.virtual:
                    self.vcall(n)
                for owner, n in m.calls:
                    self.reach(owner, n)
                for b in m.indys:
                    for owner, n in k.bootstraps.get(b, ()):
                        self.init(owner)
                        self.reach(owner, n)
                        self.vcall(n)
        return self


def perfbench_roots(classes):
    """`Obj.member` pairs and `.member` selections named in perfbench/src."""
    by_simple = collections.defaultdict(list)
    for c in classes:
        simple = c.rsplit("/", 1)[-1]
        by_simple[simple.replace("$", ".").rstrip(".")].append(c)
    pairs, selections = set(), set()
    for d, _, fs in os.walk(PERFBENCH):
        for f in fs:
            if not f.endswith(".scala"):
                continue
            src = open(os.path.join(d, f), encoding="utf-8").read()
            src = re.sub(r"//[^\n]*|/\*.*?\*/", "", src, flags=re.S)
            for chain in re.findall(r"\b[A-Z]\w*(?:\.\w+)+", src):
                parts = chain.split(".")
                for i in range(1, len(parts)):
                    owner = ".".join(parts[:i])
                    if owner in by_simple:
                        pairs.add((owner, parts[i]))
            selections.update(re.findall(r"\.([a-zA-Z_]\w*)", src))
    roots = []
    for owner, member in sorted(pairs):
        for c in by_simple[owner]:
            roots.append((c, member))
            nested = c.rstrip("$") + "$" + member
            roots.append((nested, None))
            roots.append((nested + "$", None))
    return roots, selections


def walk(classes, extra_roots=(), extra_classes=()):
    w = Walk(classes)
    pb_roots, selections = perfbench_roots(classes)
    for c in ROOT_CLASSES + list(extra_classes):
        w.instantiate(c)
    for c, name in ROOTS + list(extra_roots) + pb_roots:
        if name is None:
            w.instantiate(c)
            continue
        if c.endswith("$"):
            w.instantiate(c)  # a Scala object: its members dispatch virtually
        w.init(c)
        w.reach(c, name)
    for n in sorted(selections):
        w.vcall(n)
    return w.run()


def owner_name(name):
    """Fold a generated member into the source member it belongs to."""
    name = re.sub(r"\$default\$\d+$", "", name)
    name = re.sub(r"\$lzycompute$", "", name)
    name = re.sub(r"\$mc\w+\$sp$", "", name)
    m = re.match(r"^\$anonfun\$(.+?)\$\d+(\$adapted)?$", name)
    if m:
        name = m.group(1)
        name = re.sub(r"\$\d+$", "", name)
    return name.rstrip("$") or name


def spans(classes, live, spec):
    """Unreached source spans: whole classes, then members."""
    out = []
    for c in sorted(classes):
        k = classes[c]
        if k.source is None or "$typecreator" in c:
            continue  # TypeTag carrier of the enclosing encoder call
        dotted = c.replace("/", ".")
        members = {n for (cc, n) in live.reached if cc == c}
        spec_members = {n for (cc, n) in spec.reached if cc == c}
        if c not in live.touched and not members:
            if all(owner_name(n) in GENERATED for n in k.methods):
                continue  # a companion holding only compiler-generated members
            lines = [l for ms in k.methods.values() for m in ms for l in m.lines]
            if not lines:
                continue
            tag = "spec-only" if (c in spec.touched or spec_members) else "unreached"
            out.append((k.source, min(lines), max(lines), dotted, tag))
            continue
        mirror = c + "$" in classes and not c.endswith("$")
        groups = collections.defaultdict(list)
        for name, ms in k.methods.items():
            groups[owner_name(name)].append(name)
        for src_name, names in sorted(groups.items()):
            if src_name in GENERATED or any(n in members for n in names):
                continue
            if re.match(r"^[A-Z]\w*\$\d+$", src_name):
                continue  # accessor of a method-local object
            ms = [m for n in names for m in k.methods[n]]
            if all(m.bridge or (m.synthetic and "$anonfun$" not in n)
                   for n in names for m in k.methods[n]):
                continue
            if mirror and all(m.static for m in ms):
                continue  # static forwarder of the companion object's member
            if "scala/Product" in k.supers and src_name in k.fields:
                continue  # case-class field accessor
            if k.interface and all(m.static for m in ms):
                continue  # trait static forwarder
            lines = [l for m in ms for l in m.lines]
            if not lines:
                continue
            tag = "spec-only" if any(n in spec_members for n in names) else "unreached"
            out.append((k.source, min(lines), max(lines), f"{dotted}.{src_name}", tag))
    return out


def keep_reason(symbol):
    return KEEP.get(symbol) or KEEP.get(symbol.rsplit(".", 1)[0])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("-o", "--output", help="write the census here too")
    args = ap.parse_args()
    for d in (MAIN, TEST):
        if not os.path.isdir(d):
            sys.exit(f"missing {d}: run `sbt Test/compile` first")
    main_classes = parse(javap(class_files(MAIN)))
    all_classes = dict(main_classes)
    test_classes = parse(javap(class_files(TEST)))
    all_classes.update(test_classes)

    live = walk(main_classes)
    spec = walk(all_classes,
                extra_roots=[(c, n) for c, k in test_classes.items() for n in k.methods],
                extra_classes=list(test_classes))
    found = spans(main_classes, live, spec)

    lines = ["# graft reachability census: main-class spans that no query, bench or",
             "# entry point reaches (tools/reachability.py; see its docstring).",
             f"# classes {len(main_classes)}, reached members {len(live.reached)}",
             ""]
    missing = 0
    for src, lo, hi, symbol, tag in found:
        reason = keep_reason(symbol)
        if reason:
            lines.append(f"KEEP  {tag:9}  {src}:{lo}-{hi}  {symbol}  -- {reason}")
        else:
            missing += 1
            lines.append(f"DEAD  {tag:9}  {src}:{lo}-{hi}  {symbol}")
    lines.append("")
    lines.append(f"# {len(found)} spans, {len(found) - missing} kept, {missing} not on the keep-list")
    text = "\n".join(lines) + "\n"
    sys.stdout.write(text)
    if args.output:
        with open(args.output, "w", encoding="utf-8") as f:
            f.write(text)
    sys.exit(1 if missing else 0)


if __name__ == "__main__":
    main()
