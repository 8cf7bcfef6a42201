"""Closure-aware implementation provenance (VERDICT r11 item 1).

Until round 12 the correctness artifacts' ``impl_sha`` hashed only the
registered function's own source, so an edit to a SHARED HELPER
(``extensions/similarity.py``, a module constant) silently left every
consumer's green row attesting code that no longer exists. These tests
pin the structural fix: ``provenance.impl_sha`` folds in the transitive
local-module closure, so a helper edit flips the sha of every consumer.
"""

from __future__ import annotations

import pytest

from crypto_streaming_lakehouse_spark import provenance as P

_PKG = "crypto_streaming_lakehouse_spark"
_R11 = f"{_PKG}.registry_round11"
_SIM = f"{_PKG}.extensions.similarity"


@pytest.fixture(autouse=True)
def _fresh_caches():
    P.clear_caches()
    yield
    P.clear_caches()


def test_closure_includes_direct_and_transitive_helpers():
    closure = P.module_closure(_R11)
    assert _R11 in closure, "closure must include the module itself"
    # module-level: from .extensions import similarity as S
    assert _SIM in closure
    # registry.py is imported by every registry module
    assert f"{_PKG}.registry" in closure


def test_closure_sees_function_level_imports():
    """The registry modules import helpers INSIDE function bodies
    (e.g. registry_round11._kmeans_c1_ctes imports registry_round2);
    the AST walk must find those too, not just module-level imports."""
    closure = P.module_closure(_R11)
    assert f"{_PKG}.registry_round2" in closure
    assert f"{_PKG}.registry_round6" in closure


def test_helper_edit_marks_consumer_stale():
    """THE hole this module closes: editing extensions/similarity.py must
    change the impl_sha of a registry_round11 consumer whose own source
    is untouched. Simulated by injecting an edited helper source into the
    provenance source cache (a comment-only edit — even those count: the
    sha is a content hash, coarse by design)."""
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    fn = REGISTRY["q_ann_ivf_trained_topk"].fn
    assert fn.__module__ == _R11
    before = P.impl_sha(fn)
    assert before is not None

    edited = P._module_source(_SIM) + "\n# simulated helper edit\n"
    P._SHA_CACHE.clear()
    P._CLOSURE_CACHE.clear()
    P._SRC_CACHE[_SIM] = edited
    after = P.impl_sha(fn)
    assert after != before, (
        "helper edit did not change the consumer's impl_sha — the "
        "staleness detector is helper-blind again"
    )


def test_unrelated_module_edit_does_not_invalidate():
    """Coarse is fine, unbounded is not: a module OUTSIDE the closure
    (streaming/pipeline.py is not imported by the ANN family) must not
    affect the sha, or every edit would resweep all 330 rows."""
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    unrelated = f"{_PKG}.streaming.pipeline"
    fn = REGISTRY["q_ann_ivf_trained_topk"].fn
    closure = P.module_closure(_R11)
    assert unrelated not in closure, (
        "test premise broken: pick a module outside the ANN closure"
    )
    before = P.impl_sha(fn)
    P._SHA_CACHE.clear()
    P._CLOSURE_CACHE.clear()
    P._SRC_CACHE[unrelated] = "# totally different\n"
    assert P.impl_sha(fn) == before


def test_module_constant_edit_marks_consumer_stale():
    """A constant edit (PQ_RERANK_R = 20 -> 21) changes behavior without
    touching any function source — the defining module's own content is
    part of the closure hash, so it must flip the sha."""
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    fn = REGISTRY["q_ann_pq_rerank"].fn
    before = P.impl_sha(fn)
    src = P._module_source(_R11)
    assert "PQ_RERANK_R = 20" in src
    P._SHA_CACHE.clear()
    P._CLOSURE_CACHE.clear()
    P._SRC_CACHE[_R11] = src.replace("PQ_RERANK_R = 20", "PQ_RERANK_R = 21")
    assert P.impl_sha(fn) != before


def test_impl_sha_matches_full_correctness_script():
    """scripts/full_correctness.py and tests/test_artifact_sync.py must
    agree on the formula — both use provenance.impl_sha itself; this
    guards against the formula being reintroduced inline in the script."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "fc", pathlib.Path(__file__).parent.parent / "scripts" / "full_correctness.py"
    )
    fc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fc)
    assert fc.impl_sha is P.impl_sha
