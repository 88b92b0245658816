"""The ``--py-files`` zip built by tools/make_pyfiles.py runs on its own."""

import json
import os
import subprocess
import sys

from docling_parse_spark.corpus import generate_corpus
from docling_parse_spark.document import decode_document

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DECODE_FROM_ZIP = """
import json, os
import docling_parse_spark
from docling_parse_spark.corpus import generate_corpus
from docling_parse_spark.document import decode_document
from docling_parse_spark.pdf import resources_data

assert docling_parse_spark.__file__.startswith(os.environ["PYTHONPATH"])
# inside a zip the data tables are not files: they load via importlib.resources
assert not os.path.exists(resources_data.DATA_DIR) and resources_data.glyph_list()
d = generate_corpus(1, seed=42)[0]
print(json.dumps(decode_document(d["doc_id"], d["spans"])))
"""


def test_pyfiles_zip_decodes_like_the_repo(tmp_path):
    build = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py"), str(tmp_path)],
        capture_output=True, text=True, check=True,
    )
    zip_path = str(tmp_path / "docling_parse_spark.zip")
    assert build.stdout.strip() == zip_path

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = zip_path
    run = subprocess.run(
        [sys.executable, "-c", DECODE_FROM_ZIP],
        capture_output=True, text=True, cwd=tmp_path, env=env,
    )
    assert run.returncode == 0, run.stderr

    d = generate_corpus(1, seed=42)[0]
    expected = decode_document(d["doc_id"], d["spans"])
    assert expected and json.loads(run.stdout) == expected
