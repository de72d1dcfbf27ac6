"""Execute every README quickstart block marked ``# ci-example`` verbatim,
so the documented examples cannot rot (r8 VERDICT #8). Each block runs in
its own namespace; they call ``get_spark()`` themselves (getOrCreate
reuses the test session) and must not stop the session."""

import os
import re

import pytest

README = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "README.md")


def _ci_blocks() -> "list[tuple[str, str]]":
    text = open(README).read()
    blocks = re.findall(r"```python\n(# ci-example[^\n]*)\n(.*?)```", text, re.S)
    return [(header.replace("# ci-example:", "").strip(), code) for header, code in blocks]


def test_readme_has_ci_examples():
    assert len(_ci_blocks()) >= 3


@pytest.mark.parametrize(
    "name,code", _ci_blocks(), ids=[n for n, _ in _ci_blocks()]
)
def test_readme_example(spark, name, code):
    # `spark` fixture keeps the session owned by conftest; the snippet's
    # own get_spark() resolves to the same one via getOrCreate
    exec(compile(code, f"README.md::{name}", "exec"), {})
