#!/bin/sh
# Local dry-run of .github/workflows/ci.yml's lint + smoke jobs —
# the same commands the runner executes, for environments without a
# GitHub runner (or `act`). The security workflow's Trivy image scan
# needs docker + network and is NOT mirrored here; build the image
# with `docker build .` and scan with trivy where those exist.
set -e
cd "$(dirname "$0")/.."

# --publish-dry-run mirrors .github/workflows/publish.yml's publish
# job end-to-end: resolve the tag set, build the image (when docker
# exists) and ASSERT the built tag matches the git tag, then reach
# the push step and assert it is skipped (the workflow pushes only
# with PUBLISH_IMAGE=true on the runner) — so the deploy half is
# exercised, not just present.
if [ "${1:-}" = "--publish-dry-run" ]; then
    echo "== job: publish (dry run) =="
    owner="${GITHUB_REPOSITORY_OWNER:-local}"
    tag="${GIT_TAG:-$(git describe --tags --abbrev=0 2>/dev/null || echo v0.0.0-dev)}"
    date_tag="$(date +%Y.%m.%d)"
    # the workflow only fires on v* tags: assert the resolved tag is
    # one the workflow would actually build
    case "$tag" in
        v*) : ;;
        *) echo "ASSERT FAIL: tag '${tag}' does not match the v* trigger"; exit 1 ;;
    esac
    echo "would push:"
    echo "  ghcr.io/${owner}/airflow-spark-engine:${tag}"
    echo "  ghcr.io/${owner}/airflow-spark-engine:latest"
    echo "  ghcr.io/${owner}/airflow-spark-engine:${date_tag}"
    if command -v docker >/dev/null 2>&1 && docker info >/dev/null 2>&1; then
        docker build -t "airflow-spark-engine:${tag}" .
        # assert the built image carries exactly the git tag
        built="$(docker image inspect "airflow-spark-engine:${tag}" \
            --format '{{index .RepoTags 0}}' 2>/dev/null || true)"
        if [ "$built" != "airflow-spark-engine:${tag}" ]; then
            echo "ASSERT FAIL: built image tag '${built}' != git tag '${tag}'"
            exit 1
        fi
        echo "assert ok: built image tag matches git tag (${tag})"
    else
        echo "publish dry run: docker daemon unavailable here; tag plan asserted above"
    fi
    # push step: reached, then skipped unless PUBLISH_IMAGE=true —
    # the same guard the workflow's login/push steps use
    echo "== step: push =="
    if [ "${PUBLISH_IMAGE:-false}" = "true" ]; then
        echo "ASSERT FAIL: PUBLISH_IMAGE=true in a local dry run — refusing"
        exit 1
    fi
    echo "assert ok: push step reached and skipped (PUBLISH_IMAGE != true)"
    echo "publish dry run: green"
    exit 0
fi

echo "== job: lint =="
./scripts/lint.sh

echo "== job: smoke =="
python3 -m pytest tests/test_bench_contract.py -q
python3 -m pytest tests/test_pipeline.py -q -k "jwt or jwks or auth or role"
python3 -m pytest -q -p no:cacheprovider perfbench/tests
python3 -c "import __spark_entry__, bench, airflow_spark"

echo "ci_local: lint + smoke green (full-tests job: python -m pytest tests/ -q)"
