"""Generate the pinned public-API surface listing for sparkval.

The reference regression-tests its own supported surface
(apidoc/tests/public_api_doc.rs against docs/public-api/butteraugli.txt,
136 lines): any accidental addition/removal/signature change fails CI
until the listing is deliberately regenerated. This is the engine's
analog: one deterministic text rendering of every public module-level
callable/class (and each class's public methods) with its signature.

Regenerate after an INTENTIONAL surface change:

    python tools/api_surface.py > docs/public-api.txt

tests/test_api_surface.py diffs the live surface against the committed
listing.
"""

from __future__ import annotations

import importlib
import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: every module whose public names form the supported surface —
#: a new module must be added here (and to the listing) deliberately
MODULES = [
    "sparkval",
    "sparkval.baseline",
    "sparkval.cli",
    "sparkval.config",
    "sparkval.constraints",
    "sparkval.drift",
    "sparkval.engine",
    "sparkval.fixtures",
    "sparkval.histograms",
    "sparkval.io",
    "sparkval.kernels",
    "sparkval.schema",
    "sparkval.session",
    "sparkval.stats",
    "sparkval.streaming",
    "sparkval.tdigest",
    "sparkval.bloom",
    "sparkval.countmin",
    "sparkval.kmv",
    "sparkval.pipeline",
    "sparkval.pipeline.dedup",
    "sparkval.pipeline.events",
    "sparkval.pipeline.lsh",
    "sparkval.pipeline.multimodal",
    "sparkval.pipeline.sampling",
    "sparkval.pipeline.similarity",
    "sparkval.pipeline.text",
]


def _sig(obj) -> str:
    try:
        return str(inspect.signature(obj))
    except (TypeError, ValueError):
        return "(...)"


def module_surface(modname: str) -> list[str]:
    mod = importlib.import_module(modname)
    lines: list[str] = []
    for name in sorted(vars(mod)):
        if name.startswith("_") or name == "annotations":
            continue
        obj = getattr(mod, name)
        # only names DEFINED here are rendered with signatures;
        # sparkval-internal re-exports pin as aliases. Imports leaked
        # from third-party modules (pyspark, numpy, stdlib) are not
        # surface — supported-surface discipline, not dir() dumping
        # (the reference's public-api listing makes the same cut).
        src = getattr(obj, "__module__", None)
        if (inspect.isclass(obj) or inspect.isfunction(obj)) and src is not None:
            if src != modname and not src.startswith("sparkval"):
                continue
        defined_here = src == modname
        if inspect.isclass(obj):
            if not defined_here:
                lines.append(f"reexport {modname}.{name} = {obj.__module__}.{obj.__qualname__}")
                continue
            lines.append(f"class {modname}.{name}")
            for mname, meth in sorted(vars(obj).items()):
                if mname.startswith("_"):
                    continue
                if inspect.isfunction(meth):
                    lines.append(f"  def {name}.{mname}{_sig(meth)}")
                elif isinstance(meth, property):
                    lines.append(f"  property {name}.{mname}")
            if hasattr(obj, "__dataclass_fields__"):
                for f in obj.__dataclass_fields__:
                    lines.append(f"  field {name}.{f}")
        elif inspect.isfunction(obj):
            if not defined_here:
                lines.append(f"reexport {modname}.{name} = {obj.__module__}.{obj.__qualname__}")
                continue
            lines.append(f"def {modname}.{name}{_sig(obj)}")
        elif inspect.ismodule(obj):
            continue  # submodule attributes are pinned via MODULES
        else:
            # public module-level constant: pin name + type, not value
            lines.append(f"const {modname}.{name}: {type(obj).__name__}")
    return lines


def render() -> str:
    out = ["# sparkval public API surface — regenerate with:",
           "#   python tools/api_surface.py > docs/public-api.txt", ""]
    for m in MODULES:
        out.append(f"[{m}]")
        out.extend(module_surface(m))
        out.append("")
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    sys.stdout.write(render())
