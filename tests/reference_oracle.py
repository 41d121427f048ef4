"""Load reference modules from /root/reference as parity oracles.

The reference imports heavyweight/unavailable deps (openai, nltk, lxml, bs4,
flask, boto3, colorama, mutagen) at module scope; its own test suite stubs
them the same way (reference tests/test_utils.py:10-36). We inject minimal
fakes into sys.modules, then load the module by path. Only *pure* reference
functions are ever called: the fakes exist so the import succeeds, except
``nltk.sent_tokenize`` which we bind to our pinned sentence splitter so the
reference ``chunk_text`` and ours segment identically (SURVEY.md §7).
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import types

import pytest

REFERENCE = "/root/reference"

# marks a live-reference parity test; the frozen outputs under tests/frozen/
# keep the same assertions running without the checkout
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE),
    reason="reference checkout absent; the frozen parity test covers these inputs",
)


def frozen_reference(section: str, table: str = "annotate_parity"):
    """Inputs and expected outputs frozen from the reference-verified tree
    (tests/frozen/<table>.json)."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "frozen",
                        f"{table}.json")
    with open(path, encoding="utf-8") as f:
        return json.load(f)[section]

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))  # noqa: E402

from textractssmlprocessor_spark.functions.sentencize import sentencize  # noqa: E402


class _Anything:
    """Attribute sink: returns itself for any attribute/call."""

    def __call__(self, *a, **k):
        return self

    def __getattr__(self, name):
        return self


def _module(name: str, **attrs) -> types.ModuleType:
    mod = types.ModuleType(name)
    for k, v in attrs.items():
        setattr(mod, k, v)
    return mod


def _install_stubs() -> None:
    os.environ.setdefault("OPENAI_API_KEY", "test-key-not-used")

    anything = _Anything()

    openai = _module("openai", OpenAI=lambda api_key=None: anything)
    nltk = _module("nltk", sent_tokenize=sentencize)
    lxml = _module("lxml", etree=anything)
    lxml_etree = _module("lxml.etree")
    bs4 = _module("bs4", BeautifulSoup=anything)
    werkzeug = _module("werkzeug")
    werkzeug_utils = _module("werkzeug.utils", secure_filename=lambda f: f)
    werkzeug.utils = werkzeug_utils

    class _Blueprint:
        def __init__(self, *a, **k):
            pass

        def route(self, *a, **k):
            return lambda f: f

    flask = _module(
        "flask",
        Blueprint=_Blueprint,
        render_template=anything,
        request=anything,
        send_file=anything,
        current_app=anything,
        flash=anything,
        Response=anything,
    )
    mutagen = _module("mutagen")
    mutagen_mp3 = _module("mutagen.mp3", MP3=anything)
    mutagen.mp3 = mutagen_mp3
    boto3 = _module("boto3", client=lambda *a, **k: anything)
    botocore = _module("botocore")
    botocore_exceptions = _module(
        "botocore.exceptions",
        BotoCoreError=type("BotoCoreError", (Exception,), {}),
        ClientError=type("ClientError", (Exception,), {}),
    )
    botocore.exceptions = botocore_exceptions
    colorama = _module(
        "colorama", init=lambda *a, **k: None, Fore=anything, Style=anything
    )

    for mod in (
        openai, nltk, lxml, bs4, werkzeug, flask, mutagen, boto3,
        botocore, colorama,
    ):
        sys.modules.setdefault(mod.__name__, mod)
    sys.modules.setdefault("lxml.etree", lxml_etree)
    sys.modules.setdefault("werkzeug.utils", werkzeug_utils)
    sys.modules.setdefault("mutagen.mp3", mutagen_mp3)
    sys.modules.setdefault("botocore.exceptions", botocore_exceptions)


_CACHE: dict = {}


def load_reference_module(relpath: str, name: str):
    """Load e.g. 'textract_ssml_processor/utils.py' as an isolated module."""
    if name in _CACHE:
        return _CACHE[name]
    _install_stubs()
    # utils.py creates a translation_logs/ dir + log file in CWD at import;
    # keep that out of the repo tree.
    cwd = os.getcwd()
    scratch = "/tmp/ref_oracle_scratch"
    os.makedirs(scratch, exist_ok=True)
    os.chdir(scratch)
    try:
        spec = importlib.util.spec_from_file_location(
            name, os.path.join(REFERENCE, relpath)
        )
        mod = importlib.util.module_from_spec(spec)
        sys.modules[name] = mod
        spec.loader.exec_module(mod)
    finally:
        os.chdir(cwd)
    _CACHE[name] = mod
    return mod


def ref_utils():
    return load_reference_module("textract_ssml_processor/utils.py", "ref_utils")


def ref_text_processing():
    return load_reference_module(
        "pipeline_support/text_processing.py", "ref_text_processing"
    )


def ref_ssml_processing():
    return load_reference_module(
        "pipeline_support/ssml_processing.py", "ref_ssml_processing"
    )


def ref_ssml_validator():
    return load_reference_module(
        "pipeline_support/ssml_validator.py", "ref_ssml_validator"
    )


def ref_timestamp():
    return load_reference_module(
        "textract_ssml_processor/timestamp.py", "ref_timestamp"
    )
