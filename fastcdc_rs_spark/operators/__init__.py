"""DataFrame-level pipeline operators (SURVEY.md §2.B)."""
