package com.example.edgecases.filter

interface Filter {
    fun filter(request: String): Boolean
}
