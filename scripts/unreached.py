#!/usr/bin/env python3
"""List the main-code names no product path reaches.

Usage: python3 scripts/unreached.py

Strips comments from every Scala file under src/main/scala and
perfbench/src, then lists each `def`/`val`/`object`/`class`/`trait`
declared under src/main/scala whose name occurs nowhere in that text
except at its own declarations. Tests are not scanned: a name only a spec
calls is unreached. Overrides, implicits, `apply`/`unapply` and `main`
are reached by the compiler or the JVM and are skipped.

A name that must stay although nothing in the scanned text names it is
listed in KEEP below with its reason; a kept object, class or trait also
keeps everything declared inside it. The scan exits 1 on any unreached
name that is not kept, and on a KEEP entry that is no longer declared or
keeps nothing unreached (a stale keep). It is a name scan, not a call
graph: two declarations that share a name reach each other, so it
under-reports.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")
SCANNED = [MAIN, os.path.join(ROOT, "perfbench", "src")]

# Declared but named by no scanned file, kept on purpose: name -> reason.
KEEP = {
    # Reference goldens.
    "ConnectorQueries": "the reference connectors' query builders, golden-tested (SURVEY §5)",
    "ConnectorResponses": "the reference connectors' response parsers, golden-tested (SURVEY §5)",
    # Restatements of the reference that wait to be wired.
    "WriteBack": "the reference's save_output write-back",
    "predictionFrame": "WriteBack: the reference's save_output frame",
    "listVersions": "ModelStore: the reference's _restore listing (server.py:890-904)",
    "restore": "ModelStore: the reference's _restore (server.py:890-904)",
    "Listing": "FeatureDsl: the reference's list sort and pagination (server.py:604-638)",
    "Templates": "FeatureDsl: the reference's model templates",
    "formatTs": "FeatureDsl: the reference's timestamp format",
    "isOutput": "Feature: the reference's io flag (model.py)",
    "aggId": "Feature: the reference's aggregation id (model.py)",
    "excludeWindows": "Annotations: donut.py:962-987, golden-tested",
    "trainStats": "SeasonalModel warm start (donut.py:857-897)",
    "mergeStats": "SeasonalModel warm start (donut.py:857-897)",
    "statsToProfile": "SeasonalModel warm start (donut.py:857-897)",
    "continueTraining": "WindowReconstructor warm start (donut.py:857-897)",
    "statsFor": "WindowReconstructor warm start (donut.py:857-897)",
    "withStats": "WindowReconstructor warm start (donut.py:857-897)",
    "AnnotationHook": "the reference's annotation hook",
    "putHook": "Engine: the reference's hook registration",
    "predictMc": "DonutVae: the reference's MC-integration band (donut.py:1281-1292)",
    "nodeMaster": "GraftConfig: a reference config key (config.py), spec-pinned",
    "nodeCompute": "GraftConfig: a reference config key (config.py), spec-pinned",
    "metricsEnable": "GraftConfig: a reference config key (config.py), spec-pinned",
    "numCpus": "GraftConfig: a reference config key (config.py), spec-pinned",
    "numGpus": "GraftConfig: a reference config key (config.py), spec-pinned",
    "batchSize": "GraftConfig: a reference config key (config.py), spec-pinned",
    "maxTasksPerChild": "GraftConfig: a reference config key (config.py), spec-pinned",
    # The north star's streaming and scheduled eval, not yet driven by the daemon.
    "StreamingEval": "the north star's streaming eval; directions 1 and 5 wire it",
    "runDue": "ScheduledJobs: the scheduled-job tick; direction 1 wires it",
    "lshPlan": "Dedup: the band planner for the ANN/dedup kernels (direction 6)",
    # Curation operators pinned by their specs that no suite query calls yet.
    "mediaSchema": "Multimodal: the media frame schema the specs build",
    "decodeStub": "Multimodal: the byte-statistics decode the specs pin",
    "decodeBudget": "Multimodal: the deterministic decode cap, spec-pinned",
    "demuxAvi": "Multimodal: the copying view of demuxAviSpans the specs pin",
    "sampleGifFrames": "Multimodal: the GIF frame sampler, spec-pinned",
    "simhashKey": "StreamingDedup: the SimHash dedup key, spec-pinned",
    "verifyShards": "Output: the publish manifest check, spec-pinned",
    "writeZOrdered": "ZOrder: the z-ordered writer, spec-pinned",
    # Test hooks, test fakes, reference implementations and mains.
    "awaitJob": "HttpApi: the specs wait on a job with it",
    "call": "Callable.call in Actions.inParallel, invoked by the thread pool",
    "MemBucket": "the specs' in-memory bucket",
    "cast12": "Dec12Acc: the reference 12-decimal cast the Dec12 spec pins",
    "PlanLint": "the plan linter behind the test-side lint sweep",
    "DonutPin": "main that pins the donut reference outputs",
    "Bench": "main: the suite bench",
    "Verify": "main: the suite verify run",
}

SKIPPED = {"apply", "unapply", "main", "_"}


def strip_comments(src):
    """Two copies of `src`, newlines kept: `code` with every comment
    blanked (string and character literals, interpolations included, left
    as they are) and `bare` with the literals' contents blanked too."""
    code, bare = [], []

    def emit(s, literal=False):
        code.append(s)
        bare.append(re.sub(r"[^\n]", " ", s) if literal else s)

    i, n = 0, len(src)
    # contexts: ["code", brace depth] or ["str", quote, interpolated]
    stack = [["code", 0]]
    while i < n:
        top = stack[-1]
        c = src[i]
        if top[0] == "code":
            if src.startswith("//", i):
                j = src.find("\n", i)
                j = n if j < 0 else j
                emit(" " * (j - i))
                i = j
            elif src.startswith("/*", i):
                depth, j = 1, i + 2
                while j < n and depth:
                    if src.startswith("/*", j):
                        depth, j = depth + 1, j + 2
                    elif src.startswith("*/", j):
                        depth, j = depth - 1, j + 2
                    else:
                        j += 1
                emit(re.sub(r"[^\n]", " ", src[i:j]))
                i = j
            elif c == '"':
                interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
                q = '"""' if src.startswith('"""', i) else '"'
                emit(q)
                i += len(q)
                stack.append(["str", q, interp])
            elif c == "'" and re.match(r"'(\\.[^']*|[^'\\])'", src[i:i + 8]):
                lit = re.match(r"'(\\.[^']*|[^'\\])'", src[i:i + 8]).group(0)
                emit(lit, literal=True)
                i += len(lit)
            else:
                if c == "{":
                    top[1] += 1
                elif c == "}":
                    if top[1] == 0 and len(stack) > 1:
                        stack.pop()  # the end of a ${...} inside a string
                    else:
                        top[1] -= 1
                emit(c)
                i += 1
        else:
            _, q, interp = top
            if q == '"' and c == "\\":
                emit(src[i:i + 2], literal=True)
                i += 2
            elif src.startswith(q, i) and not (q == '"""' and src.startswith('""""', i)):
                emit(q)
                i += len(q)
                stack.pop()
            elif interp and src.startswith("${", i):
                emit("${")
                i += 2
                stack.append(["code", 0])
            else:
                emit(c, literal=True)
                i += 1
    return "".join(code), "".join(bare)


DECL = re.compile(
    r"(?P<mods>(?:\b(?:private(?:\[\w+\])?|protected(?:\[\w+\])?|override|implicit|"
    r"final|sealed|abstract|lazy|case)\s+)*)"
    r"\b(?P<kw>def|val|var|object|class|trait)\s+(?P<name>[A-Za-z_]\w*)")
CONTINUES = re.compile(r"\s*(extends|with|\{)")


def body_span(bare, start):
    """The (open, close) brace offsets of the body of the object, class or
    trait whose header starts at `start`, or None when it has no body."""
    depth, i, n = 0, start, len(bare)
    while i < n:
        c = bare[i]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0 and c == "}":
            return None
        elif depth == 0 and c == "\n" and not CONTINUES.match(bare, i):
            return None
        elif depth == 0 and c == "{":
            open_at, braces = i, 0
            for j in range(i, n):
                braces += {"{": 1, "}": -1}.get(bare[j], 0)
                if braces == 0:
                    return open_at, j
            return open_at, n
        i += 1
    return None


def scala_files(d):
    for base, _, files in os.walk(d):
        if "target" in base.split(os.sep):
            continue
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(base, f)


def main():
    words, decl_count = {}, {}
    decls = []  # (name, path, line, enclosing type names)
    for d in SCANNED:
        for p in scala_files(d):
            with open(p, encoding="utf-8") as fh:
                code, bare = strip_comments(fh.read())
            for w in re.findall(r"[A-Za-z_]\w*", code):
                words[w] = words.get(w, 0) + 1
            found = list(DECL.finditer(bare))
            spans = [(m.group("name"), body_span(bare, m.end("name")))
                     for m in found if m.group("kw") in ("object", "class", "trait")]
            for m in found:
                name, mods = m.group("name"), m.group("mods")
                decl_count[name] = decl_count.get(name, 0) + 1
                if (not p.startswith(MAIN) or name in SKIPPED
                        or "override" in mods or "implicit" in mods):
                    continue
                at = m.start("name")
                inside = [o for o, s in spans if s and s[0] < at < s[1]]
                line = bare.count("\n", 0, at) + 1
                decls.append((name, os.path.relpath(p, ROOT), line, inside))
    unreached = [d for d in decls if words.get(d[0], 0) <= decl_count[d[0]]]
    used_keeps, bad, kept = set(), 0, 0
    for name, path, line, inside in sorted(unreached):
        keeps = [k for k in [name] + inside if k in KEEP]
        if keeps:
            used_keeps.update(keeps)
            kept += 1
        else:
            print(f"UNREACHED {name}  ({path}:{line})")
            bad += 1
    declared = {d[0] for d in decls}
    for name in sorted(KEEP):
        if name not in declared:
            print(f"STALE KEEP {name}: no longer declared under src/main/scala")
            bad += 1
        elif name not in used_keeps:
            print(f"STALE KEEP {name}: keeps nothing unreached, drop it")
            bad += 1
    print(f"{len(decls)} declarations, {len(unreached)} unreached, "
          f"{kept} kept, {bad} to resolve")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
