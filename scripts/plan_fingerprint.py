#!/usr/bin/env python
"""Behavioral fingerprints for registered queries (round-13 verdict
item 2: the driver's stalest-first rotation ranked by signature AGE
only, so a query whose PLAN changed mid-round kept its old signature
rank and could wait several rounds before the driver's oracle ever
saw the new plan — four round-12 rewrites shipped that way).

A fingerprint hashes everything that determines a query's behavior
that is reachable statically from its registered callable:

- the transitive CPython bytecode of the operator function and every
  package-local function it references (globals by co_names, names
  imported inside a function body, nested code objects, closure
  cells, default args);
- the simple constants embedded in that bytecode and the module-level
  scalar knobs it reads (so a knob change re-fingerprints every query
  whose behavior it steers);
- the registered oracle SQL (which itself bakes most sizing rules).

The hash is content-only (names sorted, no ids/addresses), stable
across processes on one interpreter version — it is a change
DETECTOR, not an identity: a changed fingerprint means "the driver's
last signature predates this code", which registry.all_queries()
treats as never-verified so the query sorts to the front of the next
driver window. VERIFIED_HISTORY.json carries the fingerprint each
query had when its evidence was last refreshed
(scripts/update_verified_history.py maintains it: stamp on new
signature, carry forward otherwise).

Standalone mode (used by the one-time baseline init, run against a
git worktree of an OLD round's tree):

    python scripts/plan_fingerprint.py /path/to/repo

prints {name: fingerprint} as JSON for every query registered there.
"""

from __future__ import annotations

import dis
import hashlib
import sys
import types

_SIMPLE = (str, bytes, int, float, bool, complex, type(None))


def _const_bytes(v, strip: str = "") -> bytes | None:
    """repr bytes for scalars and (nested) tuples/frozensets of
    scalars; None for anything whose repr is address-dependent.
    Occurrences of `strip` (the repo root) inside strings are
    replaced with <REPO> so __file__-derived globals (scratch dirs)
    hash identically between the live repo and a baseline-init git
    worktree checked out elsewhere."""
    if isinstance(v, str) and strip:
        v = v.replace(strip, "<REPO>")
    if isinstance(v, _SIMPLE):
        return repr(v).encode()
    if isinstance(v, (tuple, frozenset)):
        parts = []
        for x in sorted(v, key=repr) if isinstance(v, frozenset) else v:
            b = _const_bytes(x, strip)
            if b is None:
                return None
            parts.append(b)
        return b"(" + b",".join(parts) + b")"
    return None


def fingerprint_fn(
    fn, oracle: str | None, package: str = "linux_logs_spark", strip: str = ""
) -> str:
    """sha256[:16] over fn's transitive package-local bytecode,
    referenced constants, and the oracle SQL."""
    h = hashlib.sha256()
    h.update((oracle or "").encode())
    seen_fns: set[int] = set()

    def walk_fn(f) -> None:
        if id(f) in seen_fns:
            return
        seen_fns.add(id(f))
        g = getattr(f, "__globals__", {})
        names: set[str] = set()
        imported: set[tuple[str, str]] = set()
        stack = [f.__code__]
        seen_codes: set[int] = set()
        while stack:
            code = stack.pop()
            if id(code) in seen_codes:
                continue
            seen_codes.add(id(code))
            h.update(code.co_code)
            names.update(code.co_names)
            # `from mod import x` inside a body: IMPORT_NAME, then one
            # IMPORT_FROM per imported name
            module = None
            for op in dis.get_instructions(code):
                if op.opname == "IMPORT_NAME":
                    module = op.argval
                elif op.opname == "IMPORT_FROM":
                    imported.add((module, op.argval))
            for c in code.co_consts:
                if isinstance(c, types.CodeType):
                    stack.append(c)
                else:
                    b = _const_bytes(c, strip)
                    if b is not None:
                        h.update(b)
        for d in (f.__defaults__ or ()) + tuple(
            (f.__kwdefaults__ or {}).values()
        ):
            b = _const_bytes(d, strip)
            if b is not None:
                h.update(b)
        for cell in f.__closure__ or ():
            try:
                v = cell.cell_contents
            except ValueError:
                continue
            if isinstance(v, types.FunctionType) and getattr(
                v, "__module__", ""
            ).startswith(package):
                walk_fn(v)
            else:
                b = _const_bytes(v, strip)
                if b is not None:
                    h.update(b)
        # module-level globals the bytecode names, then the names it
        # imports locally, in sorted order so traversal is
        # deterministic: package functions recurse, scalar knobs hash
        # as name=value
        refs = [(n, g[n]) for n in sorted(names) if n in g]
        refs += [
            (n, getattr(sys.modules[m], n))
            for m, n in sorted(imported)
            if m.startswith(package) and hasattr(sys.modules.get(m), n)
        ]
        for n, v in refs:
            if isinstance(v, types.FunctionType) and getattr(
                v, "__module__", ""
            ).startswith(package):
                walk_fn(v)
            else:
                b = _const_bytes(v, strip)
                if b is not None:
                    h.update(n.encode() + b"=" + b)

    walk_fn(fn)
    return h.hexdigest()[:16]


def compute_fingerprints(repo_dir: str) -> dict[str, str]:
    """{query name: fingerprint} for the registry rooted at repo_dir."""
    import os

    repo_dir = os.path.realpath(repo_dir)
    sys.path.insert(0, repo_dir)
    try:
        from linux_logs_spark import registry

        registry._ensure_loaded()
        return {
            name: fingerprint_fn(spec.fn, spec.oracle, strip=repo_dir)
            for name, spec in registry._REGISTRY.items()
        }
    finally:
        sys.path.remove(repo_dir)


if __name__ == "__main__":
    import json
    import os

    repo = sys.argv[1] if len(sys.argv) > 1 else os.getcwd()
    print(json.dumps(compute_fingerprints(os.path.abspath(repo)), indent=1))
