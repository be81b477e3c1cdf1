#!/usr/bin/env python3
"""Print the reachability table of graft's registered stages and gates.

Usage: python3 tools/reachability.py > REACHABILITY.md

Everything is a name grep over the working tree; nothing is compiled or run.

A stage is reached by:
  - `config`: a stage key or `_base_stage` in config/*.yaml;
  - `perfbench`: the YAML of a BENCHMARK.json workload (perfbench/run.py);
  - `meds`: it is one of the reference stages (registerReferenceStages);
  - `gate`: a gate that builds it by name or runs a YAML that names it;
  - `spec`: a test file that names it in quotes or as a YAML stage key.

A gate is reached by a source when a definition its body calls (through the
helpers in Queries.scala) is also called, transitively, from a stage that
source reaches. Calls are found by `Object.member`, bare same-object names
and top-level class names, plus bare calls from a stage to a local `def`
of its registry file, outside `//` and `/* */` comments, so a call
through a local alias or a SQL string is missed; such rows say `own gate`,
never a false `config`.
"""
import json
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
MAIN = ROOT / "src/main/scala/graft"
TEST = ROOT / "src/test"
QUERIES = MAIN / "Queries.scala"
# defs here are plumbing every stage shares; they say nothing about reach
INFRA = ("meds/", "dsl/", "obs/", "config/", "plans/ParquetStats.scala", "Main.scala",
         "LocalSession.scala", "operators/Pipeline.scala")

DEF = re.compile(r"^  (?:(?:private|protected)(?:\[\w+\])? |override |final |implicit |lazy )*"
                 r"(?:def|val) (\w+)")
TOP = re.compile(r"^(?:(?:private|protected)(?:\[\w+\])? |final |sealed |abstract |case )*"
                 r"(object|class|trait) (\w+)")
IDENT = re.compile(r"\b([A-Za-z_]\w*)(?:\.(\w+))?")
# a literal is matched whole, so a `/*` or `//` inside it opens no comment
LEX = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*|/\*')
NEST = re.compile(r"/\*|\*/")


def units():
    """{node: body}: one node per top-level class, and per object member."""
    nodes, objects, classes, home = {}, {}, set(), {}
    for f in sorted(MAIN.rglob("*.scala")):
        rel = str(f.relative_to(MAIN))
        cur, name, buf = None, None, []

        def flush():
            if name:
                nodes[name] = "\n".join(buf)
                home[name] = rel
        for line in f.read_text().splitlines():
            top = TOP.match(line)
            d = DEF.match(line) if cur else None
            if top:
                flush()
                kind, n = top.groups()
                cur = n if kind == "object" else None
                if kind == "object":
                    objects.setdefault(n, set())
                    name, buf = n, [line]
                else:
                    classes.add(n)
                    name, buf = n, [line]
            elif d:
                flush()
                objects[cur].add(d.group(1))
                name, buf = f"{cur}.{d.group(1)}", [line]
            else:
                buf.append(line)
        flush()
    return nodes, objects, classes, home


NODES, OBJECTS, CLASSES, HOME = units()


def strip_comments(text):
    """`text` without its `//` and (nested) `/* */` comments; literals stay."""
    out, pos = [], 0
    while m := LEX.search(text, pos):
        if m.group()[0] in "\"'":
            out.append(text[pos:m.end()])
            pos = m.end()
            continue
        out.append(text[pos:m.start()] + " ")
        pos, depth = m.end(), m.group() == "/*"
        while depth and (n := NEST.search(text, pos)):
            depth += 1 if n.group() == "/*" else -1
            pos = n.end()
        if depth:
            return "".join(out)
    return "".join(out) + text[pos:]


def calls(body, owner=None):
    out = set()
    for a, b in IDENT.findall(strip_comments(body)):
        if a in OBJECTS and b in OBJECTS[a]:
            out.add(f"{a}.{b}")
        elif a in CLASSES or (a in OBJECTS and not b):
            out.add(a)
            if "apply" in OBJECTS.get(a, ()):
                out.add(f"{a}.apply")
        elif owner and a in OBJECTS.get(owner, ()):
            out.add(f"{owner}.{a}")
    return out


def closure(roots):
    seen, todo = set(), list(roots)
    while todo:
        n = todo.pop()
        if n in seen or n not in NODES:
            continue
        seen.add(n)
        todo.extend(calls(NODES[n], n.split(".")[0]))
    return seen


def yaml_stages(path):
    """Stage names of one pipeline YAML: list entries and `_base_stage`s."""
    text = pathlib.Path(path).read_text()
    return set(re.findall(r"^  - (\w+)", text, re.M)) | \
        set(re.findall(r"_base_stage:\s*(\w+)", text))


REG = re.compile(r'(?:register|data)\("(\w+)"\)')
LOCAL_DEF = re.compile(r"^([ \t]*)def (\w+)", re.M)


def registrations(text):
    """{stage: body} of one registry file.

    A body runs from its `register("…")` to the next registration or local
    `def`. A `def` at the indentation of the registrations is a helper of its
    own, not the tail of the stage above it, and a stage body takes in the
    body of every such helper it calls bare, transitively.
    """
    def indent(pos):
        line = text[text.rfind("\n", 0, pos) + 1:pos]
        return line[:len(line) - len(line.lstrip(" \t"))]
    regs = [(m.start(), m.group(1), False) for m in REG.finditer(text)]
    levels = {indent(s) for s, _, _ in regs}
    helpers = [(m.start(), m.group(2), True) for m in LOCAL_DEF.finditer(text)
               if m.group(1) in levels]
    cuts = sorted(regs + helpers)
    bodies, local = {}, {}
    for i, (s, n, is_def) in enumerate(cuts):
        end = cuts[i + 1][0] if i + 1 < len(cuts) else len(text)
        (local if is_def else bodies)[n] = text[s:end]

    def expand(body):
        seen, todo, parts = set(), [body], [body]
        while todo:
            for n in re.findall(r"(?<![.\w])(\w+)\s*\(", strip_comments(todo.pop())):
                if n in local and n not in seen:
                    seen.add(n)
                    todo.append(local[n])
                    parts.append(local[n])
        return "\n".join(parts)
    return {n: expand(b) for n, b in bodies.items()}


def stage_bodies():
    out = {}
    for f in (MAIN / "config").glob("*.scala"):
        for n, body in registrations(f.read_text()).items():
            out[n] = (f.name, body)
    return out


def gate_bodies():
    text = QUERIES.read_text()
    reg = text[text.index("val gates: Seq"):]
    names = re.findall(r'"(\w+)" -> (\w+)', reg)
    body = {}
    for m in re.finditer(r"^  private(?:\[\w+\])? (?:val|def) (\w+)", text, re.M):
        end = re.compile(r"^  (?:/\*\*|private|val |def |// )", re.M).search(text, m.end())
        body[m.group(1)] = text[m.start():end.start() if end else len(text)]
    return names, body


def main():
    stages = stage_bodies()
    meds = {n for n, (f, b) in stages.items() if f == "PipelineConfig.scala"}
    config = {}
    for y in sorted((ROOT / "config").glob("*.yaml")):
        for s in yaml_stages(y):
            config.setdefault(s, []).append(f"config/{y.name}")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    run = (ROOT / "perfbench/run.py").read_text()
    perf, perf_yamls = {}, set()
    for w in bench["workloads"]:
        y = re.search(r'"%s": \{"config": "([^"]+)"' % w["name"], run).group(1)
        perf_yamls.add(y)
        for s in yaml_stages(ROOT / y):
            perf.setdefault(s, []).append(w["name"])
    gnames, helpers = gate_bodies()

    def gate_text(val):
        """A gate's body with the Queries helpers it calls, transitively."""
        seen, todo = set(), [val]
        while todo:
            v = todo.pop()
            if v not in seen and v in helpers:
                seen.add(v)
                todo.extend(re.findall(r"\b(\w+)\b", helpers[v]))
        return "\n".join(helpers[v] for v in sorted(seen))

    def gate_yamls(text):
        return sorted({f"config/{n}.yaml" for n in re.findall(r"(\w+_pipeline)\.yaml", text)
                       if (ROOT / f"config/{n}.yaml").exists()})

    gate_stage = {}
    for g, v in gnames:
        text = gate_text(v)
        named = {s for s in stages if "PipelineConfig" in text and re.search(r"\b%s\b" % s, text)}
        for y in gate_yamls(text):
            named |= yaml_stages(ROOT / y)
        for s in named:
            gate_stage.setdefault(s, []).append(g)
    specs = {}
    for f in sorted(TEST.rglob("*")):
        if f.suffix not in (".scala", ".yaml"):
            continue
        text = f.read_text()
        for s in stages:
            if f'"{s}"' in text or re.search(r"(^|[\s{\[,-])%s\s*[:,\]}\n]" % s, text):
                specs.setdefault(s, []).append(f.stem)

    def reach(s):
        r = []
        if s in meds:
            r.append("meds")
        if s in config:
            r.append("config (" + ", ".join(sorted(config[s])) + ")")
        if s in perf:
            r.append("perfbench (" + ", ".join(sorted(perf[s])) + ")")
        return r

    print("# Reachability of graft's stages and gates\n")
    print("Generated by `python3 tools/reachability.py` (a name grep; see its"
          " docstring for the rules). Names inside `//` and `/* */` comments"
          " are not calls; a `def` between two stage registrations belongs to"
          " the stages that call it. `tools/test_reachability.py` fails when"
          " this file differs from the script's output.\n")
    print("## Stages\n")
    print("| stage | defined in | reached by | gates | specs |")
    print("|---|---|---|---|---|")
    rows = {}
    for s in sorted(stages):
        r = reach(s) or ["own gates and specs only"]
        rows[s] = r
        print(f"| `{s}` | {stages[s][0]} | {'; '.join(r)} | "
              f"{', '.join(sorted(set(gate_stage.get(s, [])))) or '-'} | "
              f"{len(set(specs.get(s, [])))} |")
    print(f"\n{len(stages)} stages; "
          f"{sum(1 for r in rows.values() if r[0].startswith('own'))} reached only by "
          "their own gates and specs.\n")

    def rooted(pred, extra=()):
        ss = [stages[s][1] for s in stages if pred(s)]
        return closure(set(extra).union(*(calls(b) for b in ss)))
    # every reference stage takes `_match_revise`, which buildStage applies
    src = {"meds": rooted(lambda s: s in meds, ["PipelineConfig.buildStage"]),
           "config": rooted(lambda s: s in config), "perfbench": rooted(lambda s: s in perf)}

    def runs(c, o):
        """`c` runs `o`; an object or its `apply` counts as run when `c` runs
        a definition of that object which it calls (a thin `apply` over the
        entry points a stage calls)."""
        own = o.split(".")[0]
        return o in c or (o in (own, own + ".apply") and
                          any(x in c for x in closure([o]) if x.startswith(own + ".")))

    print("## Gates\n")
    print("A gate's operators are the non-plumbing definitions its body calls. "
          "`reached by` lists each source that runs at least one of them; "
          "`unreached` lists the operators no source runs.\n")
    print("| gate | operators | reached by | unreached |")
    print("|---|---|---|---|")
    families = {}
    for g, v in gnames:
        text = gate_text(v)
        ops = sorted(o for o in calls(text) if o.split(".")[0] != "Queries"
                     and not HOME.get(o, "").startswith(INFRA))
        yamls = gate_yamls(text)
        built = sorted(s for s, gs in gate_stage.items() if g in gs) if not yamls else []
        by = {k for k, c in src.items() if any(runs(c, o) for o in ops)}
        by |= {r.split(" ")[0] for s in built for r in reach(s)}
        by |= {"config"} if yamls else set()
        by |= {"perfbench" for y in yamls if y in perf_yamls}
        miss = [o for o in ops if not any(runs(c, o) for c in src.values())]
        # a `*Synth` fixture generator (the deleted media gates') is not the
        # operator under test; kept so the committed table is reproducible
        objs = [o.split(".")[0] for o in ops if not o.split(".")[0].endswith("Synth")]
        fam = ("committed pipelines" if yamls else "stages by name" if built
               else objs[0] if objs else "Spark SQL only")
        families.setdefault(fam, []).append((g, by))
        ops += [f"stage {s}" for s in built] + [f"pipeline {y}" for y in yamls]
        print(f"| `{g}` | {', '.join(f'`{o}`' for o in ops) or '-'} | "
              f"{', '.join(k for k in src if k in by) or 'own gate and specs only'} | "
              f"{', '.join(f'`{o}`' for o in miss) or '-'} |")
    own = [g for gs in families.values() for g, by in gs if not by]
    print(f"\n{len(gnames)} gates; {len(own)} reach no operator that a config, perfbench "
          "or MEDS stage runs.\n")
    print("## Gate families\n")
    print("A family is the object of a gate's first operator (`Spark SQL only`: no graft "
          "operator).\n")
    print("| family | gates | reached by | gates reached only by their own specs |")
    print("|---|---|---|---|")
    for fam, gs in sorted(families.items(), key=lambda kv: kv[0].lower()):
        by = set().union(*(b for _, b in gs))
        print(f"| {fam} | {len(gs)} | {', '.join(k for k in src if k in by) or 'own gates and specs only'} | "
              f"{', '.join(f'`{g}`' for g, b in gs if not b) or '-'} |")

if __name__ == "__main__":
    sys.exit(main())
