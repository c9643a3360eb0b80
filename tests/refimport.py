"""Import pure functions from the read-only reference repo for parity
testing. The reference's utils.py imports torch/colorlog/colorama/tqdm
at module level (none installed here); we stub just enough for the
module to import — the functions under test (get_span,
get_bool_ids_greater_than, get_id_and_prob, dbc2sbc, cut_chinese_sent,
map_offset, unify_prompt_name, SpanEvaluator) are pure Python/NumPy.

Where the reference checkout is absent, ``load_reference_utils()``
returns None and the parity tests marked ``requires_reference`` skip;
nothing is left in ``sys.modules``.
"""

from __future__ import annotations

import importlib.machinery
import importlib.util
import os
import sys
import types

import pytest

REFERENCE_DIR = "/root/reference"
_REFERENCE_UTILS = os.path.join(REFERENCE_DIR, "utils.py")

requires_reference = pytest.mark.skipif(
    not os.path.isfile(_REFERENCE_UTILS),
    reason=f"reference checkout not found ({_REFERENCE_UTILS})",
)


def _stub_module(name: str, **attrs) -> types.ModuleType:
    mod = types.ModuleType(name)
    # a real ModuleSpec so importlib.util.find_spec(name) works —
    # pyspark.testing probes find_spec("torch") and chokes on
    # __spec__ = None (ValueError)
    mod.__spec__ = importlib.machinery.ModuleSpec(name, loader=None)
    for k, v in attrs.items():
        setattr(mod, k, v)
    sys.modules.setdefault(name, mod)
    return mod


class _Any:
    """Attribute sink: returns itself for any attribute/call."""

    def __call__(self, *a, **k):
        return self

    def __getattr__(self, _):
        return self

    def __str__(self):
        return ""

    # colorama Fore.X is interpolated into f-strings
    __format__ = lambda self, spec: ""  # noqa: E731


def load_reference_utils():
    if "ref_utils" in sys.modules:
        return sys.modules["ref_utils"]
    if not os.path.isfile(_REFERENCE_UTILS):
        return None
    any_ = _Any()
    torch = _stub_module("torch", manual_seed=any_, cuda=any_)
    torch.__path__ = []  # mark as package so submodule imports resolve
    _stub_module("torch.utils", data=any_)
    _stub_module("torch.utils.data", Dataset=object, DataLoader=any_)
    sys.modules["torch"].utils = sys.modules["torch.utils"]
    _stub_module("colorlog", ColoredFormatter=any_)
    _stub_module("colorama", Back=any_, Fore=any_, init=any_)
    tqdm_mod = _stub_module("tqdm", tqdm=any_)
    tqdm_mod.__path__ = []
    _stub_module("tqdm.auto", tqdm=any_)
    _stub_module("tqdm.contrib", logging=any_)
    sys.modules["tqdm.contrib"].__path__ = []
    _stub_module("tqdm.contrib.logging", logging_redirect_tqdm=any_)
    tqdm_mod.auto = sys.modules["tqdm.auto"]
    tqdm_mod.contrib = sys.modules["tqdm.contrib"]

    spec = importlib.util.spec_from_file_location("ref_utils", _REFERENCE_UTILS)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["ref_utils"] = mod
    try:
        spec.loader.exec_module(mod)
    except BaseException:
        # never leave a half-initialised module for the next importer
        del sys.modules["ref_utils"]
        raise
    return mod
