"""minilake layered benchmark (see README.md)."""
