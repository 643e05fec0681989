"""Every memo in the package goes through ``memo.session_memo``: no other
module may compute a session key or write to a ``*_CACHE`` dict itself,
so a hand-rolled memo (own key, own eviction, no input stamp) cannot
come back."""

import ast
import pathlib

import hpctoolkit_dataframe_spark

PKG = pathlib.Path(hpctoolkit_dataframe_spark.__file__).parent
MUTATORS = {"pop", "popitem", "clear", "setdefault", "update"}


def _is_cache(node):
    return isinstance(node, ast.Name) and node.id.endswith("_CACHE")


def _violations(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = getattr(f, "id", getattr(f, "attr", None))
            if name == "session_key":
                yield node.lineno, "calls session_key"
            if (isinstance(f, ast.Attribute) and f.attr in MUTATORS
                    and _is_cache(f.value)):
                yield node.lineno, f"calls {f.value.id}.{f.attr}"
        targets = []
        if isinstance(node, (ast.Assign, ast.Delete)):
            targets = node.targets
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
            targets = [node.target]
        for t in targets:
            for sub in ast.walk(t):
                if isinstance(sub, ast.Subscript) and _is_cache(sub.value):
                    yield node.lineno, f"writes an item of {sub.value.id}"


def test_no_hand_rolled_memo():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "memo.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        found += [f"{path.relative_to(PKG)}:{line}: {what}"
                  for line, what in _violations(tree)]
    assert not found, "\n".join(found)


def test_guard_catches_a_hand_rolled_memo():
    src = ("def f(spark, d):\n"
           "    key = (session_key(spark), d)\n"
           "    _X_CACHE[key] = 1\n"
           "    del _X_CACHE[key]\n"
           "    _X_CACHE.pop(key, None)\n")
    assert len(list(_violations(ast.parse(src)))) == 4
