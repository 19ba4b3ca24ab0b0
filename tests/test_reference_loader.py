"""The reference loader fails cleanly: one clear FileNotFoundError on
every call while the tree is absent, and no half-initialised PyPDF2
module left in sys.modules after any failure."""

import sys

import pytest

from sparkpdf.testing import reference


def _point_at(monkeypatch, root):
    monkeypatch.setattr(reference, "_REF_DIR", str(root))
    monkeypatch.setattr(reference, "_REF_INIT", str(root / "__init__.py"))
    monkeypatch.delitem(sys.modules, "PyPDF2", raising=False)


def test_missing_tree_raises_clear_error_every_call(monkeypatch, tmp_path):
    root = tmp_path / "absent"
    _point_at(monkeypatch, root)
    for _ in range(2):
        with pytest.raises(FileNotFoundError) as exc:
            reference.load_reference()
        assert str(exc.value) == f"reference tree not found at {root}"
        assert "PyPDF2" not in sys.modules


def test_failing_import_leaves_nothing_behind(monkeypatch, tmp_path):
    root = tmp_path / "broken"
    root.mkdir()
    (root / "_utils.py").write_text("X = 1\n")
    (root / "__init__.py").write_text(
        "from . import _utils\nraise ImportError('half-initialised')\n")
    _point_at(monkeypatch, root)
    monkeypatch.delitem(sys.modules, "PyPDF2._utils", raising=False)
    for _ in range(2):
        with pytest.raises(ImportError, match="half-initialised"):
            reference.load_reference()
        assert not [n for n in sys.modules
                    if n == "PyPDF2" or n.startswith("PyPDF2.")]
