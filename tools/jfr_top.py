#!/usr/bin/env python3
"""Summarise a JFR recording of a Spark JVM: where it spends its CPU, how
much its JIT compiles, and which processes it forks.

Reads the text that `jfr print` writes,

    jfr print --stack-depth 200 \\
        --events jdk.ExecutionSample,jdk.CompilerStatistics,jdk.ProcessStart \\
        rec.jfr > events.txt

and reports each event type that the text holds:

1. `jdk.ExecutionSample`: samples by thread class, the driver (every
   thread that is not an executor task thread) and executor task threads
   (`Executor task launch worker ...`), and the busiest thread names; then,
   for each frame pattern given as an argument (a Python regex matched
   against every frame of a sample's stack), the samples with at least one
   matching frame, as a share of each thread class;
2. `jdk.CompilerStatistics` (periodic, cumulative since JVM start): the
   last event's compile counts and the JIT compiler threads' total time;
3. `jdk.ProcessStart`: the processes forked, by program and by the first
   calling frame outside the JDK and Hadoop's `util.Shell` wrappers.

Usage: python3 tools/jfr_top.py events.txt [PATTERN ...] [--top N]
       jfr print ... | python3 tools/jfr_top.py - [PATTERN ...]

Example, the share of executor time in per-task projection codegen:

    python3 tools/jfr_top.py events.txt \\
        'Projection\\$?\\.createCodeGeneratedObject' \\
        'CodeFormatter\\$?\\.stripExtraNewLinesAndComments'

Frames print with Scala's `$` (`UnsafeProjection$.createCodeGeneratedObject`).
"""
import collections
import re
import sys

EXECUTOR = re.compile(r"^Executor task launch worker")


def events(lines):
    """Yield (event type, {field: value}, [frames]) per event `jfr print` wrote."""
    kind, fields, frames, depth, in_stack = None, {}, [], 0, False
    for line in lines:
        s = line.strip()
        m = re.match(r"^(jdk\.\w+) \{$", s)
        if m and kind is None:
            kind, fields, frames, depth, in_stack = m.group(1), {}, [], 1, False
        elif kind is None:
            continue
        elif in_stack:
            if s == "]":
                in_stack = False
            elif s and s != "...":
                frames.append(s)
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif s.endswith("{"):
            depth += 1  # a nested struct field
        elif s == "}":
            depth -= 1
            if depth == 0:
                yield kind, fields, frames
                kind = None
        elif depth == 1 and " = " in s:
            k, v = s.split(" = ", 1)
            fields[k] = v


def thread_name(field):
    m = re.match(r'"(.*)" \(javaThreadId', field)
    return m.group(1) if m else field


def duration_ms(text):
    """`2.20 s`, `73.0 ms`, `1 min 3 s` -> milliseconds."""
    scale = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6}
    return sum(float(n) * scale[u]
               for n, u in re.findall(r"([\d.]+)\s*(ns|us|ms|min|s|h)\b", text))


JDK_OR_SHELL = re.compile(r"^(java\.|jdk\.|sun\.|org\.apache\.hadoop\.util\.Shell)")


def thread_class(name):
    return "executor" if EXECUTOR.match(name) else "driver"


def main(argv):
    top = 8
    if "--top" in argv:
        i = argv.index("--top")
        top = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    if not argv:
        sys.exit(__doc__)
    src = sys.stdin if argv[0] == "-" else open(argv[0])
    patterns = [(p, re.compile(p)) for p in argv[1:]]

    total = collections.Counter()
    by_thread = collections.Counter()
    hits = {p: collections.Counter() for p, _ in patterns}
    compiler = None
    forks, fork_origins = collections.Counter(), collections.Counter()
    for kind, fields, frames in events(src):
        if kind == "jdk.ExecutionSample":
            thread = thread_name(fields.get("sampledThread", ""))
            cls = thread_class(thread)
            total[cls] += 1
            # task threads carry the task id in their name; fold them together
            by_thread[re.sub(r"\(TID \d+\)|task [\d.]+ in stage [\d.]+", "*", thread)] += 1
            for p, rx in patterns:
                if any(rx.search(f) for f in frames):
                    hits[p][cls] += 1
        elif kind == "jdk.CompilerStatistics":
            compiler = fields  # cumulative: the last event holds the totals
        elif kind == "jdk.ProcessStart":
            command = fields.get("command", "").strip('"').split()
            forks[command[0].rsplit("/", 1)[-1] if command else "?"] += 1
            origin = next((f for f in frames if not JDK_OR_SHELL.match(f)), "?")
            fork_origins[re.sub(r" line: \d+$", "", origin)] += 1

    n = sum(total.values())
    print(f"samples: {n}")
    for cls in ("driver", "executor"):
        print(f"  {cls:<9} {total[cls]:>7}  {100.0 * total[cls] / max(n, 1):5.1f}%")
    print(f"busiest threads (top {top}):")
    for name, c in by_thread.most_common(top):
        print(f"  {c:>7}  {name}")
    for p, _ in patterns:
        print(f"under /{p}/:")
        for cls in ("driver", "executor"):
            h = hits[p][cls]
            print(f"  {cls:<9} {h:>7} of {total[cls]:>7}  {100.0 * h / max(total[cls], 1):5.1f}%")
    if compiler is not None:
        print("JIT compiler (jdk.CompilerStatistics, last event):")
        for k in ("compileCount", "standardCompileCount", "osrCompileCount",
                  "bailoutCount", "invalidatedCount"):
            print(f"  {k:<21} {compiler.get(k, '?'):>9}")
        for k in ("peakTimeSpent", "totalTimeSpent"):
            print(f"  {k:<21} {duration_ms(compiler.get(k, '')):>9.1f} ms")
    if forks:
        print(f"processes started (jdk.ProcessStart): {sum(forks.values())}")
        for prog, c in forks.most_common(top):
            print(f"  {c:>7}  {prog}")
        print(f"  first caller outside the JDK / hadoop.util.Shell (top {top}):")
        for origin, c in fork_origins.most_common(top):
            print(f"  {c:>7}  {origin}")

if __name__ == "__main__":
    main(sys.argv[1:])
