"""Code size of the engine modules and the copies between the two read
evaluators (stdlib only): ``python3 tools/codesize.py [DIR]``.

Prints each module's code lines (tokenize; comments and docstrings
excluded), then every maximal run of >= ``MIN_RUN`` identical stripped
code lines shared by compiler.py and fastread.py, with their functions.
"""

import ast
import io
import os
import sys
import tokenize

MIN_RUN = 6
_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER}
_STMT_START = (tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT)


def code_lines(src: str) -> list[int]:
    """Sorted numbers of the lines that hold code."""
    lines, prev = set(), tokenize.NEWLINE
    toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
    for t, nxt in zip(toks, toks[1:] + toks[-1:]):
        docstring = (t.type == tokenize.STRING and prev in _STMT_START
                     and nxt.type in (tokenize.NEWLINE, tokenize.ENDMARKER))
        if t.type not in _SKIP and not docstring:
            lines.update(range(t.start[0], t.end[0] + 1))
        if t.type not in (tokenize.COMMENT, tokenize.NL):
            prev = t.type
    return sorted(lines)


def owner(src: str, line: int) -> str:
    """The innermost function holding ``line``."""
    inner = [(n.lineno, n.name) for n in ast.walk(ast.parse(src))
             if isinstance(n, ast.FunctionDef)
             and n.lineno <= line <= n.end_lineno]
    return max(inner)[1] if inner else "<module>"


def shared_runs(a: str, b: str) -> list[tuple]:
    """(length, line in a, function, line in b, function) per run."""
    la, lb = ([(n, s.splitlines()[n - 1].strip()) for n in code_lines(s)]
              for s in (a, b))
    at: dict = {}
    for j in range(len(lb) - MIN_RUN + 1):
        at.setdefault(tuple(t for _n, t in lb[j:j + MIN_RUN]), []).append(j)
    seen, runs = set(), []
    for i in range(len(la) - MIN_RUN + 1):
        for j in at.get(tuple(t for _n, t in la[i:i + MIN_RUN]), ()):
            if (i, j) in seen:
                continue
            k = MIN_RUN
            while (i + k < len(la) and j + k < len(lb)
                   and la[i + k][1] == lb[j + k][1]):
                k += 1
            seen.update((i + d, j + d) for d in range(k))
            runs.append((k, la[i][0], owner(a, la[i][0]),
                         lb[j][0], owner(b, lb[j][0])))
    return runs


def main() -> None:
    d = sys.argv[1] if len(sys.argv) > 1 else "graphd_spark"
    src = {f: open(os.path.join(d, f), encoding="utf-8").read()
           for f in sorted(os.listdir(d)) if f.endswith(".py")}
    sizes = {f: len(code_lines(s)) for f, s in src.items()}
    for f, n in [*sizes.items(), ("total", sum(sizes.values()))]:
        print(f"{n:7d}  {f}")
    runs = shared_runs(src["compiler.py"], src["fastread.py"])
    print(f"\n{len(runs)} identical runs of >= {MIN_RUN} code lines "
          "(compiler.py / fastread.py):")
    for k, la, fa, lb, fb in runs:
        print(f"  {k:3d} lines  compiler.py:{la} {fa}  fastread.py:{lb} {fb}")


if __name__ == "__main__":
    main()
