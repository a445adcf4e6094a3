from .extract import extract_spans, ocr_pages  # noqa: F401
from .checkpoint import run_extraction  # noqa: F401
